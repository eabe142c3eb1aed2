"""Single-threaded pandas replay oracle.

Independently computes the final table state a CDC changelog should
converge to: sort every event by the LWW total order ``(ts, lsn)``,
keep the last event per key (``winners``), drop keys whose winner is a
delete (``replay``).
This is the equivalence target for the Spark engine (north rule:
"final-state equality vs the replay oracle with per-turn text equality
under stable (conv_id, turn_idx) ordering").
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd


def winners(
    events: pd.DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    seq_cols: Sequence[str] = ("ts", "lsn"),
) -> pd.DataFrame:
    """The last event per key under LWW, deletes included, every column
    kept (op, lsn) — the full state a table stores, tombstones too."""
    key_cols, seq_cols = list(key_cols), list(seq_cols)
    ordered = events.sort_values(seq_cols, kind="mergesort")
    last = ordered.groupby(key_cols, as_index=False).tail(1)
    return last.sort_values(key_cols, kind="mergesort").reset_index(drop=True)


def replay(
    events: pd.DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    seq_cols: Sequence[str] = ("ts", "lsn"),
    op_col: str = "op",
) -> pd.DataFrame:
    """Final live state after applying all ``events`` under LWW."""
    last = winners(events, key_cols, seq_cols)
    return last[last[op_col] != "D"].drop(columns=[op_col]).reset_index(drop=True)


def assert_states_equal(
    actual: pd.DataFrame,
    expected: pd.DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> None:
    """Exact final-state equality, rows keyed+sorted by key_cols.

    Compares per-turn ``text`` (and every other shared column) under
    stable (conv_id, turn_idx) ordering.
    """
    key_cols = list(key_cols)
    cols = sorted(set(actual.columns) & set(expected.columns))
    a = actual[cols].sort_values(key_cols, kind="mergesort").reset_index(drop=True)
    e = expected[cols].sort_values(key_cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e, check_dtype=False, check_like=True)
