"""Deduplication operators.

Reference parity:
  - J1/J2 anti-join key dedup on ``(kafka_partition, kafka_offset)``
    (collector:741-758, 1003-1010) -> broadcast left-anti join.
  - D2 content-hash dedup keep-FIRST (reader:653-710): Polars
    ``unique(keep="first")`` depends on file row order; we sharpen it to a
    deterministic rule — keep the row with the smallest order key
    (offset order) — via a min_by aggregate.

Beyond the reference: `connected_components` resolves near-dup
candidate pairs into clusters, and `bloom_build`/`bloom_probe` are the
ingest-dedup prefilter. Exact-content dedup of documents is
`operators.text.exact_dedup_hash`.

Scale notes:
  - The anti-join's right side (already-persisted keys for one
    topic/date) is small relative to the batch -> broadcast hint avoids a
    shuffle of the big side entirely.
  - Content keep-first is a min_by AGGREGATE: hash keys are uniform by
    construction, but list LENGTHS are not — the corpus's hottest exact
    duplicate is precisely what dedup removes, and a window partitioned
    by the hash would hold all its copies in one unsplittable task;
    partial min_by collapses them map-side instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.hashing import content_hash

DEDUP_KEY = ("kafka_partition", "kafka_offset")


def anti_join_dedup(
    new_df: DataFrame,
    existing_df: DataFrame,
    keys: tuple[str, ...] = DEDUP_KEY,
    broadcast_existing: bool = True,
) -> DataFrame:
    """Drop rows of `new_df` whose composite key already exists (J1/J2).

    Set difference by key as a left-anti equi-join; the existing key set
    is projected to the key columns only (column pruning, S7) and
    broadcast when the caller has established it is small (e.g. the
    date-pruned, size-gated merge path in `streaming/sink.py`). When the
    caller demotes (`broadcast_existing=False`) the join is pinned to
    sort-merge: Catalyst's stats-based auto-broadcast must not override
    an explicit too-big-to-broadcast decision — stats can underestimate,
    and a misjudged broadcast of a billion-key set OOMs every executor.
    """
    existing_keys = existing_df.select(*keys).dropDuplicates(list(keys))
    if broadcast_existing:
        existing_keys = F.broadcast(existing_keys)
    else:
        existing_keys = existing_keys.hint("merge")
    return new_df.join(existing_keys, on=list(keys), how="left_anti")


def content_dedup_keep_first(
    df: DataFrame,
    content_cols: list[str] | None = None,
    order_cols: tuple[str, ...] = DEDUP_KEY,
) -> DataFrame:
    """Content-hash dedup keeping the first row in `order_cols` order (D2).

    Hash all non-kafka columns (F4, reader:596-618), keep the row with the
    lowest (partition, offset) — a deterministic sharpening of Polars'
    row-order-dependent keep="first" (SURVEY 7.3 risk 3).

    Skew shape: keep-first runs as a min_by AGGREGATE, not a
    row_number window — a window partitioned by content hash puts every
    copy of the corpus's hottest duplicate (the exact thing dedup
    exists to remove) in ONE unsplittable task, while the aggregate's
    map-side partial combine collapses hot hashes to one candidate row
    per map partition before the shuffle. The ordering struct encodes
    NULLS FIRST per order column ((0, null) sorts below (1, v)), so the
    selected row is bit-for-bit the one an `orderBy(asc)` row_number
    window picks, for any caller (ties in `order_cols` — impossible for
    the (partition, offset) default — are window-nondeterministic anyway).
    """
    hashed = df.withColumn("_content_hash", content_hash(df, content_cols))
    order_key = F.struct(
        *[
            f
            for c in order_cols
            for f in (
                F.when(F.col(c).isNotNull(), F.lit(1)).otherwise(F.lit(0)),
                F.col(c),
            )
        ]
    )
    first = F.min_by(
        F.struct(*[F.col(c) for c in df.columns]), order_key
    ).alias("__first")
    return hashed.groupBy("_content_hash").agg(first).select("__first.*")


def _materialize_flagged(df: DataFrame, flag_col: str) -> tuple[DataFrame, bool]:
    """Materialize one loop iteration with reset Catalyst stats AND read
    a boolean convergence flag in the same full-scan job that fills the
    cache: persist -> agg(max) -> localCheckpoint -> unpersist.

    A bare per-iteration `localCheckpoint` truncates lineage but keeps
    the child plan's size estimate, and a join's estimate is the product
    of its children's: in a loop that joins the checkpointed frame, the
    estimate's bit length doubles every round, so planning cost grows
    exponentially on constant-size data. Checkpointing from the filled
    cache gives the checkpoint the cached relation's real byte size.
    Reading the flag in the job that fills the cache saves a separate
    changed-check job per iteration. Empty frames read as unchanged
    (max over zero rows is NULL)."""
    cached = df.persist()
    flag = cached.agg(F.max(F.col(flag_col))).collect()[0][0]
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out, bool(flag)


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into clusters (connected
    components): one row per vertex, labeled with its component's
    minimum id; singletons keep themselves.

    LSH/Jaccard stages emit candidate pairs; a dedup pipeline must group
    them transitively (a~b, b~c => {a,b,c} is one cluster) and keep one
    canonical doc per cluster. That fixpoint is not one SQL query, so it
    runs as a driver-controlled loop of alternating large-star/small-star
    edge contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond"). Edges are REWRITTEN toward component minima, so the
    round count is O(log^2 n) and not bound by graph diameter — a label
    propagated one edge hop per round needs a round per hop of the
    longest near-dup chain. Each round shuffles only the candidate edge
    set, orders of magnitude smaller than the corpus; the vertex table
    is touched once, at the final label join.

    Edges live canonically as (u, v) with u > v. Each round:

      large-star: per vertex a, m(a) = min(neighborhood(a) ∪ {a});
        every edge {a, b} with a < b rewrites to {b, m(a)} — emitted
        exactly once, from its smaller endpoint's group, so the edge
        count never grows. Stable (flag false) iff every emitting
        vertex was already its neighborhood min: emitted == input.
      small-star: per vertex u over its SMALLER neighbors N(u),
        m = min(N(u)); children v ∈ N(u) \\ {m} rewrite to {v, m} and
        the {u, m} edge is (re-)emitted — the group collapses to a
        star around the local min. Stable iff every group had a single
        smaller neighbor (flag rides the child rows). The small-star
        groupBy(u, v) also dedups the round's edge multiset, so one
        distinct per round, in the same shuffle as the flag aggregate.

    Both phases are monotone (edge endpoints only ever decrease, and
    only to ids inside the same component), so the loop terminates at
    min-rooted stars; labels then read directly off the star edges.

    Round shape: both per-vertex minima come from WINDOW aggregates over
    ``partitionBy(u)`` rather than groupBy + self-join — 3 Exchanges and
    no join per round, where the join form pays 5 Exchanges and 2
    SortMergeJoins. On tiny per-round frames a round costs sequential
    AQE stage waves, not bytes, so fewer waves is a cheaper round. A
    hub vertex's window group lands in one task, but a join would
    shuffle the same rows to one join partition anyway (WindowExec
    buffers with spill where SMJ sorts with spill). Seeding the loop by
    rewriting every edge to its neighborhood minimum first (hash-to-min)
    does not cut rounds here — convergence is bound by how star chains
    collapse, not by the initial hop count — and costs an extra
    materialization plus a transiently ~2x edge set.

    Materialization cadence: TWO contraction rounds run as one lineage
    per `_materialize_flagged` when the cap allows (the second round's
    two references to the first resolve to one ReusedExchange), halving
    driver materializations; each costs two jobs over edge-sized frames
    (the flag aggregate that fills the cache, then its checkpoint).
    Results are identical at ANY cap: the edge set after k rounds does
    not depend on where materializations fall, a single round finishes
    an odd cap exactly, and a pair whose first round already hit the
    fixpoint leaves round two a no-op (stability is absorbing), so the
    pair flag still reads unchanged.

    `max_iterations` caps contraction rounds against runaway graphs
    (the O(log^2 n) bound makes 25 far more than a real corpus needs);
    a capped run labels each vertex with the smallest star neighbor its
    edge set has reached."""
    from pyspark.sql import Window

    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("u")

    def one_round(es: DataFrame) -> DataFrame:
        # large-star: neighborhoods need both directions; m(u) =
        # min(N(u) + {u}) rides ONE window min; each edge is emitted
        # from its smaller endpoint (v > u below), rewritten to
        # (v, m(u)). m <= u < v, so no self-loops can appear.
        directed = es.select("u", "v").union(
            es.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            directed.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.col("m").alias("v"),
                (F.col("m") != F.col("u")).alias("__chg"),
            )
        )

        # small-star over the large-star output (still u > v): per
        # group, m = min(v) (window); the m-row(s) emit the (u, m)
        # self edge carrying the group's large-star flag (duplicates
        # collapse in the dedup aggregate), every other row is a child
        # rewrite (v, m) — unstable by construction. The groupBy(u, v)
        # is the round's dedup AND carries the instability flag.
        grouped = large.withColumn("m", F.min("v").over(w)).withColumn(
            "__lchg", F.max("__chg").over(w)
        )
        return (
            grouped.select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("eu"),
                F.col("m").alias("ev"),
                F.when(F.col("v") == F.col("m"), F.col("__lchg"))
                .otherwise(F.lit(True))
                .alias("__chg"),
            )
            .select(
                F.greatest("eu", "ev").alias("u"),
                F.least("eu", "ev").alias("v"),
                "__chg",
            )
            .groupBy("u", "v")
            .agg(F.max("__chg").alias("__chg"))
        )

    remaining = max_iterations
    while remaining > 0:
        small = one_round(edges)
        if remaining >= 2:
            small = one_round(small.select("u", "v"))
            remaining -= 2
        else:
            remaining -= 1
        new_edges, changed = _materialize_flagged(small, "__chg")
        edges = new_edges.select("u", "v")
        if not changed:
            break

    roots = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        vertices.select(F.col(id_col).alias("id"))
        .join(roots.select(F.col("u").alias("id"), "cluster_id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
    )


# --- Bloom-filter prefilter -------------------------------------------------
# The standard ingest-dedup accelerator: a fixed-size bit array over the
# seen-key set answers "definitely new" without touching the key table,
# so the exact anti-join only processes the (few) maybe-seen rows. Words
# are 63-bit so every mask and every OR stays a non-negative BIGINT in
# both Spark and DuckDB (the 48-bit-simhash portability rule); hashes
# are md5-derived — the oracle rebuilds the filter bit-for-bit.

BLOOM_WORD_BITS = 63
BLOOM_WORDS = 64  # 64 x 63 = 4032 bits
BLOOM_HASHES = 3


def _bloom_bit(key: Column | str, j: int, n_bits: int) -> Column:
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(n_bits),
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    word_bits: int = BLOOM_WORD_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Fold a key set into a Bloom bit array: `n_words` rows of
    (word_idx, word) built by a bit_or aggregate — fixed size no matter
    how many keys, partial-aggregated map-side, ONE tiny result to
    broadcast at probe time."""
    n_bits = n_words * word_bits
    bits = keys.select(
        F.explode(
            F.array(
                *[_bloom_bit(key_col, j, n_bits).alias(f"b{j}") for j in range(n_hashes)]
            )
        ).alias("bit")
    )
    return (
        bits.select(
            F.expr(f"bit DIV {word_bits}").alias("word_idx"),
            F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit % {word_bits} AS INT)) AS BIGINT)").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    word_bits: int = BLOOM_WORD_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Membership test against a broadcast Bloom filter: a probe is
    `maybe_seen` iff ALL its hash bits are set (no false negatives —
    the guarantee the oracle gate enforces; false positives are the
    collision price the exact verify pays for). Adds `maybe_seen`
    boolean; probes never shuffle (the filter broadcasts)."""
    n_bits = n_words * word_bits
    hashed = probes.select(
        "*",
        F.explode(
            F.array(*[_bloom_bit(key_col, j, n_bits) for j in range(n_hashes)])
        ).alias("bit"),
    ).withColumn("word_idx", F.expr(f"bit DIV {word_bits}"))
    joined = hashed.join(F.broadcast(bloom), "word_idx", "left").withColumn(
        "hit",
        F.expr(
            f"CASE WHEN word IS NULL THEN 0"
            f" WHEN (word DIV CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit % {word_bits} AS INT)) AS BIGINT)) % 2 = 1"
            f" THEN 1 ELSE 0 END"
        ),
    )
    group_cols = [c for c in probes.columns]
    # min(hit)==1 (not sum==n_hashes): duplicate probe rows collapse in
    # the groupBy, which would make sum(hit) a multiple of n_hashes and
    # turn seen keys into false negatives — min is duplicate-safe.
    return (
        joined.groupBy(*group_cols)
        .agg((F.min("hit") == F.lit(1)).alias("maybe_seen"))
    )
