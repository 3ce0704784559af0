"""Pure DataFrame -> DataFrame operator library (SURVEY §2 inventory)."""

from pyspark.errors import NumberFormatException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager localCheckpoint with the row count collected as an
    ``observe`` metric ON the materialization job itself (optimization
    r13): one Spark job where checkpoint-then-isEmpty/count paid two.
    Metrics fire on the checkpoint action (it runs under
    ``Dataset.withAction``), so ``Observation.get`` returns without
    scheduling anything. Used by every micro-batch loop's emptiness gate,
    the iterative kernels' convergence checks (``operators/graph``
    inlines the same pattern with sum metrics), the edge count that gates
    ``graph.connected_components``' local finish, and the per-stage
    accounting of ``plans.pipeline``."""
    obs = Observation()
    out = (df.observe(obs, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    return out, int(obs.get["n"])


def broadcast_budget(spark: SparkSession) -> int:
    """Bytes an operator may ship to every task or pull to the driver on
    its own decision: the deployment's ``spark.sql.autoBroadcastJoinThreshold``
    capped at the historical 32 MB rule. A threshold <= 0 (broadcasts
    disabled) gives 0, i.e. never; size-suffixed values ("10MB") parse
    through Spark's own byte-string rule; an unparseable value falls back
    to 32 MB. The r9 spill probe is why it follows the conf: a
    small-memory executor with the threshold tuned down died on a forced
    broadcast sized by a hardcoded rule instead of shuffling."""
    # no default here: an unset key reads as Spark's own (10 MB)
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        thr = int(raw)
    except ValueError:  # size-suffixed form, e.g. "10MB" / "8388608b"
        try:
            thr = int(spark._jvm.org.apache.spark.util.Utils
                      .byteStringAsBytes(raw))
        except NumberFormatException:
            thr = 32 << 20
    return max(0, min(32 << 20, thr))
