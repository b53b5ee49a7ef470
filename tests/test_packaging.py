"""Cluster-deploy packaging: the --py-files zip is complete and loadable."""

import zipfile

from bioie_llm_spark.session import package_zip


def test_package_zip_complete():
    z = package_zip()
    names = set(zipfile.ZipFile(z).namelist())
    for mod in [
        "bioie_llm_spark/__init__.py",
        "bioie_llm_spark/extraction.py",
        "bioie_llm_spark/pipeline.py",
        "bioie_llm_spark/queries.py",
        "bioie_llm_spark/artifacts.py",
        "bioie_llm_spark/operators/setops.py",
        "bioie_llm_spark/operators/canonical.py",
        "bioie_llm_spark/functions/cleaning.py",
        "bioie_llm_spark/sources/checkpoint.py",
        "bioie_llm_spark/streaming/incremental.py",
        "bioie_llm_spark/multimodal/binary_ops.py",
        "bioie_llm_spark/datagen/corpus.py",
    ]:
        assert mod in names, mod
    assert not any("__pycache__" in n for n in names)


def test_package_zip_importable(tmp_path):
    """The zip alone (no repo on path) provides the package."""
    import subprocess
    import sys

    z = package_zip()
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import bioie_llm_spark.operators.setops as s; "
        "print(s.py_sort_and_pad(['a','b'], ['b','c'], 10))"
    ) % z
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert r.returncode == 0, r.stderr
    assert "['b', 'a']" in r.stdout
