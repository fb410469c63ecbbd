"""Per-run JSONL structured log for the CLI verbs — the Spark reading of
the reference's JSONLogFormatter run log (/root/reference/STACpopulator/
log.py:53-94; emit sites populators.py:263-303).

The reference logs one JSON record per item with extras (item_loc, loader,
running counter/failure totals). At 10^12 rows a record per item IS the
bottleneck, so the analogue is one record per STAGE, carrying the same
information aggregated: row counts, dead-letter failure counts by reason,
and free-form extras. The verbs take every count from a
``pyspark.sql.Observation`` on the write that produces the stage's output
(``observed_counts``), so the log costs no extra Spark job and never a
driver-side loop.
Record shape mirrors the reference formatter: always ``message`` +
``timestamp`` (UTC ISO), plus every extra key at the top level.
"""

from __future__ import annotations

import datetime as dt
import json
import os


class RunLog:
    """Append-only JSONL run log. One instance per CLI run."""

    def __init__(self, path: str | None):
        self.path = path
        if path:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            # truncate: the log describes THIS run (the reference opens a
            # fresh file handler per invocation, log.py:40-50)
            open(path, "w").close()

    def event(self, message: str, **extra) -> dict:
        rec = {
            "message": message,
            "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
            **extra,
        }
        if self.path:
            with open(self.path, "a") as f:
                f.write(json.dumps(rec, default=str) + "\n")
        return rec

    def stage(self, stage: str, rows: int, **extra) -> dict:
        return self.event(f"stage {stage}: {rows} rows", stage=stage, rows=rows, **extra)

    def failures(self, stage: str, counts: dict) -> dict:
        """Log failure counts by reason — the run-level analogue of the
        reference's per-item 'Processed N data items. M failures' counters
        (populators.py:268-274, 302-303). Reasons with no rows are left
        out, as a group-by over the dead-letter table would."""
        counts = {reason: n for reason, n in counts.items() if n}
        total = sum(counts.values())
        return self.event(
            f"stage {stage}: {total} failures",
            stage=stage,
            failures=total,
            failure_counts=counts,
        )


def observed_counts(df, **counts):
    """``(df, observation)``: ``df`` with one named count per keyword,
    each a boolean Column counting the rows where it holds, observed by
    whatever action consumes ``df``. ``observation.get`` returns
    {name: int} once that action has finished."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias(name)
            for name, cond in counts.items()]
    return df.observe(obs, *aggs), obs


def read_runlog(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
