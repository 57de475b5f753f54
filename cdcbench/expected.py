"""Expected outputs for the benchmark's correctness gates.

Every expected value comes from the engine's reference replay,
`stratum_spark.cdc.oracle.replay_binlog`, run over the seed's whole
generated feed up to the lsn a gate needs (events in lsn order, a re-emitted
lsn applies once, invalid I/U rows go to the DLQ, D removes the row).
"""

from __future__ import annotations

from stratum_spark.cdc.oracle import ReplayState, replay_binlog, state_as_records


class Oracle:
    """replay_binlog over one feed directory, one replay per max_lsn."""

    def __init__(self, feed_dir: str) -> None:
        self.feed_dir = feed_dir
        self._states: dict[int | None, ReplayState] = {}

    def state(self, max_lsn: int | None = None) -> ReplayState:
        if max_lsn not in self._states:
            self._states[max_lsn] = replay_binlog(self.feed_dir, max_lsn=max_lsn)
        return self._states[max_lsn]

    def row(self, doc_id: str, max_lsn: int | None = None) -> dict | None:
        return self.state(max_lsn).rows.get(doc_id)

    def changes(self, lsn_a: int, lsn_b: int) -> int:
        """Rows read_changes must return between the base folded at lsn_a
        and the base folded at lsn_b: inserted, deleted and changed
        documents (any stored column, lsn included, counts as a change)."""
        a, b = self.state(lsn_a).rows, self.state(lsn_b).rows
        changed = sum(1 for k in a.keys() & b.keys() if a[k]["lsn"] != b[k]["lsn"])
        return changed + len(a.keys() ^ b.keys())

    def records(self, max_lsn: int | None = None) -> dict[str, dict]:
        """The oracle's state projected onto the evolved table's
        user-facing columns."""
        st = self.state(max_lsn)
        return state_as_records(st, table_schema_ver=st.schema_ver)


def row_matches(actual: dict | None, expected: dict | None) -> bool:
    """Compare one user-facing row (a dict from Row.asDict()) with an
    oracle row (a replay_binlog row); columns the table does not carry
    (pre-DDL) are skipped."""
    if actual is None or expected is None:
        return actual is None and expected is None
    if [int(t) for t in actual["tokens"]] != expected["tokens"]:
        return False
    if int(actual["n_tok"]) != expected["n_tok"]:
        return False
    src = "corpus" if "corpus" in actual else "source"
    if actual[src] != expected["source"]:
        return False
    return "lang" not in actual or actual["lang"] == expected["lang"]
