"""Physical-plan inspection helpers.

The scale contract ("would this still work at 100 TB?") is enforced by
looking at the plan, not guessing: filters must reach the parquet scan
(PushedFilters), projections must prune columns (ReadSchema), dimension
joins must broadcast. Tests assert on these so regressions are caught the
moment a refactor breaks a pushdown.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment appears in a PushedFilters clause of the plan."""
    plan = explain_str(df)
    pushed = "\n".join(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    for frag in fragments:
        assert frag in pushed, (
            f"filter {frag!r} not pushed to scan; PushedFilters lines:\n{pushed}\n"
            f"full plan:\n{plan}"
        )

