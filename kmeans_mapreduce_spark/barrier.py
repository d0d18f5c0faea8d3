"""Materialize-once barrier with a documented at-scale policy.

Many operators compute a small intermediate (a ranked edge list, an
exploded posting index, a pair candidate set) that feeds SEVERAL
downstream branches of one query. Spark 4.1's exchange reuse
effectively never fires across column-pruned branches (measured, r15),
so without a barrier the intermediate's whole subtree re-executes once
per branch — 11 GEMM passes in one triangle-count plan. The barrier
materializes it exactly once and truncates lineage.

CHECKPOINT-AT-SCALE POLICY (r15 verdict task 5):

- Default: ``localCheckpoint(eager=False)`` — blocks live on executor
  local storage (MEMORY_AND_DISK), written lazily on first
  materialization. This is the right call on the single-node bench and
  on clusters whose jobs can simply re-run on failure: it is the
  cheapest barrier Spark has (no DFS write, no second job).
- FAILURE MODE at scale: a localCheckpoint has NO lineage — the blocks
  are the only copy. If an executor holding them is lost (preemption,
  OOM-kill, spot reclaim), every downstream stage fails with
  ``Checkpoint block ... not found``; the JOB must be re-run from the
  source. The data is never silently wrong — the failure is loud — but
  on long multi-hour 100 TB jobs with non-negligible executor churn
  the re-run cost dominates.
- Mitigation: ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` switches every
  barrier in the engine to a RELIABLE ``checkpoint(eager=False)``
  into ``SPARK_GRAFT_CHECKPOINT_DIR`` (default
  ``/tmp/spark-graft-checkpoints``; point it at DFS on a real
  cluster). Reliable checkpoints survive executor loss at the cost of
  one DFS round-trip per barrier. Results are IDENTICAL either way —
  the barrier only pins where materialization happens, never what is
  computed — pinned by ``tests/test_extensions.py``'s
  ``test_barrier_paths_survive_reliable_checkpointing``.
- Lifetime: both kinds are freed by Spark's ContextCleaner once the
  checkpointed RDD is garbage-collected on the driver (the Python
  DataFrame and its JVM twin dropped). Local checkpoint blocks are
  always cleaned; reliable checkpoint FILES only because
  ``session.get_spark`` sets
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (Spark's
  default is false, which leaks one file copy per barrier per query).
  A session built elsewhere must set it too, or manage the checkpoint
  dir's lifetime itself. Cleaning waits for a driver GC: the bench
  explicitly ``gc.collect()``s between queries so repeated
  invocations do not accumulate storage, and long-lived sessions that
  call a barrier-bearing operator many times inherit the same
  discipline (ADVICE r15: the single-node assumption is documented
  here once, not at 40 call sites).

Usage — chainable, so call sites read like the localCheckpoint they
replace::

    edges = ranked.select(...).transform(narrow_barrier)

Keep barriers NARROW: checkpoint the few columns every consumer needs,
never the wide row — an RDD-scan barrier cannot be column-pruned, so a
wide barrier forces every consumer to read every column (measured
regression, r15 knn first attempt).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_RELIABLE_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"
_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def narrow_barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df`` exactly once for all downstream consumers
    (see module docstring for the at-scale policy). Local by default;
    env-switchable to a reliable checkpoint dir."""
    if os.environ.get(_RELIABLE_ENV) == "1":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get(_DIR_ENV, "/tmp/spark-graft-checkpoints")
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
