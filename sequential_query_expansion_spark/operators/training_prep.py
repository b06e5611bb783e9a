"""Training-set preparation: mixture sampling + sequence packing.

The last pipeline stages before web text reaches a trainer: (1) sample
each source at its mixture rate (the data-mixing step every LM corpus
recipe publishes — C4/Pile/Dolma weights), carrying importance weights
so downstream statistics stay unbiased; (2) pack documents into
fixed-capacity token bins (sequence packing for efficient pre-training
batches).

Both are DETERMINISTIC — sampling by md5-prefix hash (portable across
Spark's Java md5 and DuckDB's, same trick as the LSH plane oracles),
packing by a pure prefix-sum rule — so reruns, resumes, and the DuckDB
oracles all reproduce the same rows bit-for-bit. A `rand()`-based
sample would be cheaper by a hash but unreplayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

HASH_MOD = 16 ** 6  # first 6 md5 hex chars -> uniform int in [0, 2^24)


def hash_unit(col: Column) -> Column:
    """Deterministic uniform [0, 1) from the md5 prefix of ``col``.
    Exact in float64 (24-bit int over a power of two), so `<` threshold
    comparisons agree bit-for-bit between Spark and DuckDB."""
    h = F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10)
    return h.cast("long") / F.lit(float(HASH_MOD))


def mixture_sample(
    docs: DataFrame,
    rates: dict,
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Per-source Bernoulli sampling at the mixture ``rates``
    (source -> keep probability), deterministic in (salt, id). Keeps the
    input columns and adds ``sample_weight`` = 1/rate so weighted
    downstream aggregates remain unbiased estimates of the full corpus.

    100 TB shape: a pure per-row filter over the scan — no shuffle, no
    sampleBy (whose seed semantics vary across Spark versions), and the
    hash guarantees the SAME rows survive on reruns and resumes, which
    is what makes downstream incremental stages checkpointable.
    """
    for src, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {src!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    rate = F.lit(float(default_rate))
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    u = hash_unit(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    return (
        docs.withColumn("_rate", rate)
        .where(u < F.col("_rate"))
        .withColumn("sample_weight", F.lit(1.0) / F.col("_rate"))
        .drop("_rate")
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign documents (in ``id_col`` order) to fixed-capacity token
    bins: a document belongs to the bin where its global token offset
    starts (``bin_id = floor(start_tok / capacity)``). -> (id, n_tokens,
    start_tok, bin_id, overflow) where ``overflow`` marks documents
    crossing their bin's boundary (a trainer splits or drops those; the
    boundary-rule packing is the standard parallel approximation of
    greedy first-fit — greedy's reset makes every bin depend on all
    prior bins, which cannot scale past one partition).

    100 TB shape: a TRUE distributed prefix sum, not a global window
    (``Window.orderBy`` with no partition key collapses the corpus into
    one task): range-repartition by id, aggregate one token-sum row per
    partition (a P-row collect), broadcast the exclusive partition
    offsets back, and window only WITHIN partitions. The output is
    invariant to the (sampled, run-varying) range boundaries because
    offset + local cumsum telescopes to the global cumsum.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    d = docs.select(id_col, tokens_col).repartitionByRange(F.col(id_col))
    d = d.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    # NULL token counts have no offset to give: count them in the same
    # pass as the partition sums and refuse them before any output
    rows = d.groupBy("_pid").agg(
        F.sum(tokens_col).alias("s"),
        F.count_if(F.col(tokens_col).isNull()).alias("n_null"),
    ).collect()
    n_null = sum(r["n_null"] for r in rows)
    if n_null:
        raise ValueError(
            f"{n_null} row(s) have a NULL {tokens_col!r}; fill or drop "
            "them before packing"
        )
    psums = {r["_pid"]: r["s"] for r in rows}
    offsets, acc = [], 0
    for pid in sorted(psums):  # range partitions ascend with pid
        offsets.append((pid, acc))
        acc += int(psums[pid])
    off = F.broadcast(
        docs.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    )
    # explicit ROWS frame: the default RANGE frame would sum PEER rows
    # (duplicate ids) into both peers' cumsums, diverging from the
    # oracle's ROWS UNBOUNDED PRECEDING
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (
        F.col("_off")
        + F.sum(tokens_col).over(w)
        - F.col(tokens_col)
    )
    cap = F.lit(int(capacity))
    return (
        d.join(off, "_pid")
        .select(
            id_col,
            F.col(tokens_col).cast("long").alias(tokens_col),
            start.cast("long").alias("start_tok"),
            F.floor(start / cap).cast("long").alias("bin_id"),
            ((start % cap) + F.col(tokens_col) > cap).alias("overflow"),
        )
    )
