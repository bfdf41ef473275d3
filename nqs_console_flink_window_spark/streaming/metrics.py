"""Streaming observability (the reference's println timing instrumentation,
done properly): a StreamingQueryListener collecting per-batch progress —
rows, the full ``durationMs`` phase breakdown, query name — queryable
after (or during) a run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchStats:
    batch_id: int
    num_input_rows: int
    # the progress's whole durationMs map: triggerExecution, addBatch,
    # queryPlanning, latestOffset, walCommit, ... (empty if it carries none)
    duration_ms: dict[str, int]
    query_name: str


@dataclass
class ProgressCollector(StreamingQueryListener):
    """Attach with ``spark.streams.addListener(collector)``; detach with
    ``removeListener``.  Keeps a bounded in-memory record of micro-batch
    progress for assertions and ops dashboards."""

    max_records: int = 1000
    batches: list[BatchStats] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            BatchStats(
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                duration_ms=dict(p.durationMs or {}),
                query_name=p.name or "",
            )
        )
        if len(self.batches) > self.max_records:
            del self.batches[: len(self.batches) - self.max_records]

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    @property
    def total_rows(self) -> int:
        return sum(b.num_input_rows for b in self.batches)
