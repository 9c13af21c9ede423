"""Per-iteration checkpoint + metrics lineage for iterative algorithms.

North rule: every iteration checkpoints per-partition lineage and
convergence metrics so a killed job resumes mid-algorithm.  Protocol:

    <dir>/iter_00007/state/        parquet of the per-vertex state
    <dir>/iter_00007/metrics.json  convergence + lineage metrics

The state parquet is written to a ``.tmp`` directory and atomically
renamed; ``metrics.json`` is written last and is the completeness marker —
a checkpoint without it is ignored on resume (so a kill mid-write is safe).
``<dir>/identity.json`` binds the directory to the graph and parameters
that wrote it (see :meth:`CheckpointManager.bind`).
Reloading from parquet also truncates Spark lineage (the reference's
"plain arrays, no lineage" model, by other means).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    def __init__(self, directory: str):
        self.dir = directory
        os.makedirs(directory, exist_ok=True)

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.dir, f"iter_{iteration:05d}")

    def bind(self, identity: dict) -> None:
        """Bind the directory to one graph and parameter set.

        Without a complete checkpoint, ``identity`` is stored (replacing any
        left by an earlier graph); otherwise it must equal the stored one,
        or ``ValueError`` names the first field that differs.  Complete
        checkpoints without ``identity.json`` are refused too: nothing then
        tells which graph wrote them.  Resuming against another graph or
        other parameters would silently continue someone else's state.
        """
        path = os.path.join(self.dir, "identity.json")
        if self.latest() is None:
            with open(path + ".tmp", "w") as f:
                json.dump(identity, f)
            os.rename(path + ".tmp", path)
            return
        if not os.path.exists(path):
            raise ValueError(
                f"checkpoint {self.dir}: identity.json is missing beside its "
                "checkpoints; resume needs the same graph and parameters"
            )
        with open(path) as f:
            saved = json.load(f)
        for k, v in identity.items():
            if saved.get(k) != v:
                raise ValueError(
                    f"checkpoint {self.dir}: {k} differs (saved {saved.get(k)!r}, "
                    f"now {v!r}); resume needs the same graph and parameters"
                )

    def save(self, iteration: int, state: DataFrame, metrics: dict) -> None:
        d = self._iter_dir(iteration)
        tmp = d + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(d):
            shutil.rmtree(d)
        state.write.mode("overwrite").parquet(os.path.join(tmp, "state"))
        os.rename(tmp, d)
        payload = dict(metrics)
        payload.setdefault("iteration", iteration)
        payload.setdefault("wall_clock", time.time())
        payload["num_state_partitions"] = state.rdd.getNumPartitions()
        payload["partition_lineage"] = self._partition_lineage(
            os.path.join(d, "state")
        )
        mtmp = os.path.join(d, "metrics.json.tmp")
        with open(mtmp, "w") as f:
            json.dump(payload, f)
        os.rename(mtmp, os.path.join(d, "metrics.json"))

    @staticmethod
    def _partition_lineage(state_dir: str) -> list[dict]:
        """Per-partition lineage from the written parquet footers (row count
        + byte size per part file) — metadata-only reads, no extra Spark job.
        On resume this is the record of exactly which partition files make
        up the iteration's state (north rule: per-partition lineage)."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return []
        out = []
        for name in sorted(os.listdir(state_dir)):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(state_dir, name)
            out.append({
                "file": name,
                "rows": pq.ParquetFile(p).metadata.num_rows,
                "bytes": os.path.getsize(p),
            })
        return out

    def latest(self) -> int | None:
        """Highest iteration with a complete checkpoint, else None."""
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if not name.startswith("iter_") or name.endswith(".tmp"):
                continue
            if not os.path.exists(os.path.join(self.dir, name, "metrics.json")):
                continue
            it = int(name.split("_")[1])
            best = it if best is None else max(best, it)
        return best

    def load(self, spark: SparkSession, iteration: int) -> tuple[DataFrame, dict]:
        d = self._iter_dir(iteration)
        with open(os.path.join(d, "metrics.json")) as f:
            metrics = json.load(f)
        return spark.read.parquet(os.path.join(d, "state")), metrics

    def history(self) -> list[dict]:
        """All recorded per-iteration metrics, in iteration order."""
        out = []
        it = self.latest()
        if it is None:
            return out
        for name in sorted(os.listdir(self.dir)):
            p = os.path.join(self.dir, name, "metrics.json")
            if name.startswith("iter_") and os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return out
