"""Default-run smoke selection for the per-query oracle and plan tests.

The full registry sweep stays behind ``-m ""`` (pytest.ini); the
default run checks the rows most at risk. Those are the driver's next
rotation window of stalest-verified queries, plus every query whose
source changed after its last green driver row. A restamped query is
added on top of the window rather than counted inside it, so a source
change never evicts a query that was due for its rotation check.
"""

from __future__ import annotations

from swarm_spark.queries import _change_rounds, _last_green_round, all_queries

WINDOW = 50


def smoke_queries() -> set[str]:
    reg = all_queries()
    last = _last_green_round()
    since = _change_rounds(reg)
    restamped = {n for n in reg if 0 <= last.get(n, -1) < since.get(n, 0)}
    due = [n for n in reg if n not in restamped][:WINDOW]
    return restamped | set(due)
