"""Functions shipped to Spark's Python workers (kept import-light)."""

import pandas as pd


def count_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per traversal cell: the number of rows ``traverse_apply`` hands
    to the group function."""
    return pd.DataFrame(
        {"cell": [int(pdf["__traversal_cell"].iloc[0])], "n": [len(pdf)]}
    )
