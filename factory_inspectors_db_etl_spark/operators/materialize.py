"""Session-configurable materialization barrier.

Several operators (MinHash/SimHash signatures, shingle streams, LSH
bucket tables, tf-idf term frequencies, iterative connected-components
rounds) must be computed EXACTLY ONCE and then re-read by a downstream
self-join or loop.  Spark's contract for that is a materialization
barrier; there are two implementations with different durability:

* ``local``    -- ``DataFrame.localCheckpoint``: blocks stored on
                  executor local disk/memory.  Fastest; does NOT survive
                  executor loss (a lost block fails the job, it cannot be
                  recomputed because the lineage was truncated).  Right
                  for local-mode and short-lived jobs.
* ``reliable`` -- ``DataFrame.checkpoint``: blocks written to the
                  cluster checkpoint directory (HDFS/object store, set
                  via ``SparkContext.setCheckpointDir``).  Survives
                  executor loss — the production choice for multi-hour
                  100 TB runs where losing one executor of a thousand is
                  routine, at the cost of a distributed-FS write.

Both truncate the logical plan, which the iterative loops (connected
components, pagerank, BPE merges) REQUIRE: without it the analyzed plan
doubles per round.

The mode is read per-call from the session conf so a cluster deployment
flips ALL barriers with one setting and zero code changes:

    spark.conf.set("spark.graft.materialize.mode", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs:///checkpoints/dedup")

(Default ``local`` — the round-3 behavior, byte-identical plans.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MATERIALIZE_MODE_CONF = "spark.graft.materialize.mode"
_MODES = ("local", "reliable")


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once (an eager job), per the session's
    durability mode."""
    mode = df.sparkSession.conf.get(MATERIALIZE_MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "materialize mode 'reliable' needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir('<durable fs path>') "
                "before running the operator"
            )
        return df.checkpoint(eager=True)
    raise ValueError(f"unknown {MATERIALIZE_MODE_CONF}={mode!r}; expected one of {_MODES}")
