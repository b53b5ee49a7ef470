from .cleaning import (
    extract_choice_expr,
    extract_choice_kbase_expr,
    match_mentions_expr,
    py_extract_choice,
    py_match_mentions,
)

__all__ = [
    "extract_choice_expr",
    "extract_choice_kbase_expr",
    "match_mentions_expr",
    "py_extract_choice",
    "py_match_mentions",
]
