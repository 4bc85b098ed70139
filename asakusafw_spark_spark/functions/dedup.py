"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these ops is the 100 TB case):

- All sketches are native Column expressions over token/shingle arrays —
  no Python, no UDF, one scan.
- Pair generation NEVER does an all-pairs cross join: candidates come
  from equi-joins on shared keys (a shingle, an LSH band bucket, a
  simhash value), i.e. shuffles keyed by something with bounded fan-out.
  Exact Jaccard verification happens only on candidate pairs.
- The cross-engine determinism contract: the 64-bit string hash is the
  first 15 hex digits of md5 (identical in Spark `conv(...,16,10)` and
  DuckDB `CAST('0x'||... AS BIGINT)`), folded modulo the Mersenne prime
  2^31-1 before affine permutations so products stay in int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..caching import cache_scope, persist, release_unscoped
from .text import tokens, fingerprint

#: Mersenne prime 2^31-1: permutation modulus (a*h+b stays < 2^62).
MERSENNE_P = 2_147_483_647

#: Monotonic suffix for CollectMetrics names (must be unique per plan).
_OBS_SEQ = __import__("itertools").count()

#: Intermediates the returned frames read lazily (banded signatures,
#: chunk frames, history indexes) are owned by the caller's cache scope
#: (``caching.persist``); these public names are aliases kept for callers.
release_cached_intermediates = release_unscoped
cached_intermediates_scope = cache_scope


def _observe_cap(counts: DataFrame, family: str, max_bucket: int) -> DataFrame:
    """Attach a named observation to a bucket-counts frame so silent
    recall loss from the ``max_bucket`` keep-filter is detectable in
    production: ``dropped_buckets`` / ``largest_bucket`` metrics are
    computed for free during the query's own action and surface through
    the Spark UI / ``QueryExecutionListener`` — no extra job, no extra
    scan (the cap trades recall for survival; this makes the trade
    observable instead of silent).
    """
    return counts.observe(
        f"{family}_bucket_cap_{next(_OBS_SEQ)}",
        F.sum((F.col("__n__") > max_bucket).cast("long")).alias("dropped_buckets"),
        F.max("__n__").alias("largest_bucket"),
    )


def _bucket_pairs(ids: Column) -> Column:
    """All index pairs ``struct(a, b)`` (i < j) from a bucket's id array —
    the LOCAL equivalent of the capped bucket self-join (r17, guide §2.4):
    arrays are bounded by ``max_bucket``, so the per-bucket quadratic pair
    expansion happens inside one task over one array instead of through a
    sort-merge self-join's exchange.  Orientation/strictness (id_a < id_b)
    is applied by the caller via least/greatest + a strict filter, which
    also drops equal-id pairs exactly like the old join's ``a.id < b.id``
    condition."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _capped_bucket_arrays(
    banded: DataFrame,
    keys: "list[str]",
    family: str,
    max_bucket: int,
    width: int,
    collect: Column,
    require_pairable: bool = True,
) -> DataFrame:
    """Per-bucket row arrays for capped candidate generation in ONE
    width-pinned exchange (r17, guide §2.4 "remove shuffles outright").

    Replaces the r10 shape — counts aggregate + broadcast keep semi-join +
    bucket self-join (two passes over the banded rows, a persisted
    intermediate, 2-3 exchanges) — with: repartition by the bucket keys
    (an AQE-exempt user shuffle, so the quadratic pair explode downstream
    never inherits a bytes-coalesced width — the r13/r14
    narrow-stage-inheritance class), a window count per bucket, the cap
    observation (same ``dropped_buckets`` / ``largest_bucket`` metrics,
    row-level form), the cap filter, and a bounded ``collect_list``
    (<= ``max_bucket`` elements per bucket BY CONSTRUCTION — the filter
    runs below the collect, so an over-cap mega-bucket is dropped while
    its per-task state is still O(1) window-count state, never an
    O(bucket) array).  Documented trade: a pathological over-cap bucket's
    slim rows now cross this one exchange before being dropped (the
    window sort spills to disk) where the old shape dropped them map-side
    after a separate counts pass — in exchange every healthy corpus pays
    one banded pass and one shuffle instead of two passes, a cache and a
    join.

    ``require_pairable`` adds the ``__n__ >= 2`` cut (semantically free
    for self-join families: singleton buckets yield no pairs); the
    corpus-history variant keeps singletons (one history row can still
    match batch rows).
    """
    kc = [F.col(k) for k in keys]
    w = W.partitionBy(*kc)
    rows = banded.repartition(width, *kc).select(
        "*",
        F.count(F.lit(1)).over(w).alias("__n__"),
        # rn marks exactly one row per bucket so the observation can
        # count BUCKETS from row-level metrics; ordering by the
        # partition keys themselves adds nothing to the window sort
        F.row_number().over(w.orderBy(*kc)).alias("__rn__"),
    )
    rows = rows.observe(
        f"{family}_bucket_cap_{next(_OBS_SEQ)}",
        F.sum(
            ((F.col("__n__") > max_bucket) & (F.col("__rn__") == 1)).cast("long")
        ).alias("dropped_buckets"),
        F.max("__n__").alias("largest_bucket"),
    )
    cond = F.col("__n__") <= max_bucket
    if require_pairable:
        cond = cond & (F.col("__n__") >= 2)
    return rows.filter(cond).groupBy(*kc).agg(collect.alias("__ids__"))


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread compute-heavy per-row work across the cluster.

    Parquet splits by BYTES (``spark.sql.files.maxPartitionBytes``), so a
    small file scans as 1 partition — and a sketch that expands each row
    into dozens of hashed shingles then serializes on one core.  When the
    scan would have fewer partitions than ``defaultParallelism``,
    round-robin repartition (shuffles only the raw rows, cheap next to the
    per-shingle work).  No-op on inputs that are already wide, so at
    100 TB — where scans come in thousands of partitions — this never adds
    a shuffle.

    Width is estimated from the source FILE LISTING (count + bytes vs
    ``maxPartitionBytes``), NOT ``df.rdd.getNumPartitions()`` — the RDD
    probe forces a full analysis + physical-planning pass of the frame at
    graph-build time on every call site.  Sources with NO listing (a
    foreachBatch micro-batch, an in-memory frame) fall back to that
    probe: a streaming micro-batch is typically ONE file = one
    partition, and skipping it serialized each batch's signing on a
    single core (the sf1 ingest probe measured 30 s/batch vs 10 s
    batch-mode for exactly this).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if len(files) >= target:
        return df  # already wide — leave the plan alone
    est = _estimated_scan_splits(df, files)
    if est < target:
        return df.repartition(target)
    return df


def _estimated_scan_splits(df: DataFrame, files: "list[str] | None" = None) -> int:
    """Estimated parquet scan width of ``df`` from its source file
    listing (count + bytes vs ``maxPartitionBytes``) — no job, no
    physical planning.  0 when the frame has no file source."""
    spark = df.sparkSession
    if files is None:
        files = df.inputFiles()
    if not files:
        return 0
    # the parsed SQLConf value: the raw string may carry a unit suffix
    # ("64m", "134217728b") that only Spark's bytes-conf parser reads right
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jpath(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
        return max(len(files), -(-total // max_bytes))  # ceil-div, ≥1/file
    except Exception:
        return len(files)  # listing failed: assume 1 split per file


def _verify_width(src: DataFrame) -> int:
    """AQE-exempt width for a candidate-pair verify stage (VERDICT r14
    Next #7): at least total cores, GROWING with the source corpus's
    scan width — so on a real cluster a huge banded-candidate frame is
    not squeezed to exactly one task per core with no headroom.  Pairs
    are banded + capped by construction, so source scan width is a
    safe upper-bound proxy for the pair frame's size class."""
    return max(
        src.sparkSession.sparkContext.defaultParallelism,
        _estimated_scan_splits(src),
    )


def str_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string (md5-prefix)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _affine_params(k: int, seed: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for h_i(x) = (a·x + b) mod P.
    Derived from a simple LCG so both engines can reproduce them as
    literals (they are baked into the generated expressions)."""
    params = []
    state = seed or 1
    for _ in range(k):
        state = (state * 1103515245 + 12345) % MERSENNE_P
        a = state or 1
        state = (state * 1103515245 + 12345) % MERSENNE_P
        b = state
        params.append((a, b))
    return params


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """DISTINCT word n-gram shingles of the text (array<string>).
    Texts with fewer than ``n`` tokens yield their whole token join as
    the single shingle (so short docs still participate); texts with NO
    tokens (null/empty) yield NO shingles — they cannot near-dup match
    anything.  The zero-token guard is a correctness AND scale
    contract: without it every null/empty document shared one
    degenerate shingle (and, through concat_ws's null-skipping, one
    minhash band key), so they all paired with each other — a
    quadratic mega-bucket of empties on any real corpus with nulls,
    and a divergence from the oracle twins' null→no-tokens semantics.
    Caught by the r13 null-injected oracle sweep (engine emitted 4575
    pairs vs the oracle's 15 on a 20%-null corpus).  Exact dedup still
    catches identical empties via the fingerprint hash."""
    toks = tokens(col)
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), sz - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    whole = F.when(sz > 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(F.when(sz >= n, grams).otherwise(whole))


def _shingle_hashes(shingle_col: Column) -> Column:
    """array<long>: md5-based hash of each shingle, mod P."""
    return F.transform(shingle_col, lambda s: F.pmod(str_hash64(s), F.lit(MERSENNE_P)))


def minhash_signature(
    shingle_col: Column, k: int = 8, seed: int = 42
) -> Column:
    """MinHash signature (array<long> of length k): per permutation i,
    ``min over shingles of (aᵢ·h + bᵢ) mod P``.

    Single-pass: ONE ``aggregate`` over the shingle-hash array with an
    array-of-k-minima accumulator and the (aᵢ, bᵢ) pairs as a literal
    struct array.  k separate ``array_min(transform(...))`` projections
    would each embed their own copy of the md5 subtree (Catalyst does
    not CSE across them), hashing every shingle k times.
    """
    hashes = _shingle_hashes(shingle_col)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _affine_params(k, seed)
        ]
    )
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(MERSENNE_P).cast("long"), k),
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, p: F.least(m, F.pmod(h * p["a"] + p["b"], F.lit(MERSENNE_P)))
        ),
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by normalized-text fingerprint.

    Returns one row per distinct content: ``(fingerprint, keeper_id,
    dup_count)`` with keeper = min id.  A single hash aggregate with
    map-side combine — the scalable shape (no sort, no window).
    """
    return (
        ensure_parallelism(df)
        .select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _band_rows(index: DataFrame, k: int, bands: int) -> DataFrame:
    """Slim (id, band, key) rows projected from a signature index.

    Token-less docs (no shingles) are excluded: their all-null sig
    would concat_ws-collapse to one shared "" band key, pairing every
    empty doc with every other (see :func:`word_shingles`; the oracle's
    null band keys never equi-join — r13 null-injected sweep).
    """
    r = k // bands
    keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(":", *[F.col("sig")[b * r + i] for i in range(r)]).alias("key"),
        )
        for b in range(bands)
    ]
    return (
        index.where(F.size("shingles") > 0)
        .select("id", F.explode(F.array(*keys)).alias("bk"))
        .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def _lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    bands: int,
    seed: int,
    max_bucket: "int | None",
    family: str,
) -> "tuple[DataFrame, DataFrame]":
    """MinHash-LSH self-dedup candidates: ``(base, cand)``.

    ``base`` is the persisted SLIM ``(id, shingles)`` frame: the persist
    (CHECKPOINT-on-fanout, SURVEY §2.1) saves a re-tokenize per consumer,
    and texts are never cached (r14: multi-KB texts riding it dominated
    the sf1 edit-distance run).  ``cand`` is the deduped ``(id_a, id_b)``
    list, id_a < id_b, from :func:`_band_rows`: capped, one width-pinned
    bucket exchange (:func:`_capped_bucket_arrays`, r17), the in-task
    pair explode and a pair dedup on a second width-pinned hash exchange
    the aggregate reuses; for ``max_bucket=None``, the exact quadratic
    (band, key) self-join.  ``family`` labels the cap observation.

    Width guard (r14, SCALING.md round 14): both shapes end on a user
    repartition to :func:`_verify_width`.  AQE coalesces the slim
    id-pair shuffle by BYTES (95k pairs at sf1 fit one partition) and
    the verify joins inherit that width, serializing the verify onto 1-2
    cores: 19.5 vs 9.3 s for the array_intersect verify, 78 of 89 s for
    the levenshtein one at sf1.  A user repartition is exempt from AQE
    coalescing, and the id-pair shuffle it adds is cheap at any scale.
    """
    if k % bands != 0:
        raise ValueError("bands must divide k")
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (or None)")
    width = _verify_width(df)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    ).transform(persist)
    sig = minhash_signature(F.col("shingles"), k, seed)
    banded = _band_rows(base.withColumn("sig", sig), k, bands)
    if max_bucket is not None:
        bkt = _capped_bucket_arrays(
            banded, ["band", "key"], family, max_bucket, width,
            F.collect_list("id"),
        )
        cand = (
            bkt.select(F.explode(_bucket_pairs(F.col("__ids__"))).alias("__p__"))
            .select(
                F.least("__p__.a", "__p__.b").alias("id_a"),
                F.greatest("__p__.a", "__p__.b").alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .repartition(width, "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.key") == F.col("b.key"),
                ],
            )
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .repartition(width)
        )
    return base, cand


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: "int | None" = 500,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH: shingle → k-minhash →
    ``bands`` band-buckets → equi-join on (band, band-key) → exact
    Jaccard verify on candidates → ``jaccard ≥ threshold``.

    Output: (id_a, id_b, jaccard) with id_a < id_b.  Jaccard is a ratio
    of integer set sizes (exact, order-free).

    Scale: candidate generation (:func:`_lsh_candidates`) ships only
    slim ``(id, band, key)`` rows — shingle arrays do NOT ride the
    candidate shuffle; they are re-joined only onto the (much smaller)
    deduped candidate-pair list for exact verification, on a width pin
    that keeps the verify stage wide.  No cross join anywhere.

    ``max_bucket`` (ON by default — the analog of
    :func:`ngram_jaccard_pairs`' doc-freq cap): a (band, key) bucket
    holding more than this many documents is DROPPED before the join.
    An oversized bucket means that band key carries no discriminative
    power — low-entropy corpora can put thousands of documents in one
    bucket, and the join is quadratic PER BUCKET (the r09 sf1 sweep
    caught exactly this: a synthetic low-diversity corpus drove both
    engines quadratic).  Real near-dups above threshold almost always
    agree on several bands, so they still pair via their other, smaller
    buckets; pairs matching ONLY through a mega-bucket are lost — a
    documented approximation.  ``max_bucket=None`` restores the exact
    quadratic behavior.
    """
    base, cand = _lsh_candidates(
        df, id_col, text_col, n, k, bands, seed, max_bucket, "minhash_lsh"
    )
    verified = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        verified.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs (no sketch): candidates = pairs
    sharing ≥1 distinct shingle via an exploded equi-join on the shingle
    itself; the join's group count IS the intersection size.

    Scale: cost ∝ Σ_shingle df(shingle)² — ONE stop-shingle shared by a
    million documents is a 10¹²-row join partition, so ``max_doc_freq``
    caps per-shingle cost at df² ≤ cap² and is ON by default (10 000: far
    above any real dedup signal — a shingle in 10k+ docs identifies
    nothing — and bounds the hottest shingle's candidate fan-out to 10⁸
    spread across the cluster).  NOTE the cut changes the computed
    Jaccard (intersections lose pruned shingles while union keeps full
    set sizes) — a documented approximation; pass ``max_doc_freq=None``
    for the exact quadratic computation.
    """
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    ).withColumn("set_size", F.size("shingles"))
    # consumed by both join sides (+ doc_freq) — materialize once.
    # explode_OUTER: plain explode makes InferFiltersFromGenerate add a
    # size()>0 filter whose pushdown re-inlines the whole word_shingles
    # expression BELOW the repartition exchange — the sf1 probe measured
    # the shingle scan 3x-computed with 2/3 of it on the pre-shuffle
    # partitions (97 s for a 3.4M-row explode).  Token-less docs have an
    # EMPTY shingle array (r13 null contract), so outer emits one
    # null-sh row per such doc — dropped right after the Generate (a
    # filter on a GENERATED attribute cannot be pushed below the
    # Generate, so nothing is recomputed) to keep null rows out of the
    # persisted frame and the doc_freq aggregate.
    exploded = (
        base.select("id", "set_size", F.explode_outer("shingles").alias("sh"))
        .where(F.col("sh").isNotNull())
        .transform(persist)
    )
    if max_doc_freq is not None:
        # r17 (guide §3.1/§3.2): prune by ANTI-joining the HOT shingles
        # (df > cap) instead of inner-joining the KEEP set (df <= cap).
        # Same rows survive — doc_freq has exactly one row per shingle,
        # so the old inner join kept each exploded row iff its shingle's
        # count passed the cap, which is precisely NOT-IN the hot set —
        # but the broadcast side flips from "almost every distinct
        # shingle in the corpus" (unbroadcastable at volume, forcing a
        # full-stream SMJ shuffle) to the few non-discriminative
        # stop-shingles the cap exists to kill (bounded by
        # total_occurrences / cap), so the prune stays a map-side
        # broadcast filter at any scale and the exploded stream's first
        # exchange is the candidate self-join itself.  No broadcast
        # HINT: the hot set is only bounded in expectation — a
        # degenerate corpus can exceed the broadcast cap, and AQE
        # already upgrades the anti join to broadcast at runtime from
        # the aggregate's TRUE output size (forcing it would trade a
        # graceful SMJ fallback for a driver OOM).
        hot = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_doc_freq)
            .select("sh")
        )
        pruned = exploded.join(hot, "sh", "left_anti")
    else:
        pruned = exploded

    a = pruned.alias("a")
    b = pruned.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.set_size").alias("size_a"),
            F.first("b.set_size").alias("size_b"),
        )
    )
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: training docs sharing ≥
    ``min_overlap`` distinct word ``n``-grams with ANY eval doc.

    Output: (train_id, n_shared_grams, n_eval_docs) — the docs to drop
    (or audit) before training.  The standard pre-training hygiene step:
    eval sets leak into web scrapes, and an n-gram match (typically
    n=8..13 for real corpora) is the cheap high-precision detector.

    Scale shape: the eval side is exploded to DISTINCT grams and
    broadcast when small (the common case — benchmarks are tiny next to
    the corpus); the train side explodes per gram and the equi-join on
    the gram itself bounds fan-out to true matches.  No all-pairs.
    """
    # explode_outer on both sides: see ngram_jaccard_pairs — a plain
    # explode's inferred size()>0 filter re-inlines word_shingles below
    # the exchange / into a second evaluation.  Token-less docs shingle
    # to an EMPTY array, so outer emits a null-gram row per such doc;
    # drop it post-Generate (un-pushable, so nothing is recomputed) to
    # keep nulls out of the gram equi-join inputs.
    t = ensure_parallelism(train).select(
        F.col(id_col).alias("train_id"),
        F.explode_outer(word_shingles(text_col, n)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    e = eval_set.select(
        F.col(id_col).alias("eval_id"),
        F.explode_outer(word_shingles(text_col, n)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    joined = t.join(e, "gram")
    return (
        joined.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_grams") >= min_overlap)
    )


def simhash(col: Column | str, bits: int = 64) -> Column:
    """SimHash sketch of the token multiset (frequency-weighted): for
    each bit position, sum ±1 over token hashes; sign → bit.

    Up to 64 true entropy bits: each token hashes to TWO independent
    32-bit values (md5 hex digits 1-8 and 9-16), serving bit positions
    0-31 and 32-63 respectively — a single 60-bit hash folded mod
    2^31-1 (the minhash scheme) caps entropy at 31 bits and leaves
    16-bit chunk keys of a 64-bit sketch half-constant.

    Single-pass native expression: ONE ``aggregate`` over the token-hash
    array with an array-of-``bits``-counters accumulator (each token's
    md5 is computed exactly once), then a fold of the counter signs into
    the integer sketch.  The sketch is assembled as two exact 32-bit
    halves (any integer < 2^53 is exact in double) recombined with
    signed-long arithmetic — ``(hi - 2^32·[hi ≥ 2^31]) · 2^32 + lo``
    never overflows and reproduces the two's-complement bit pattern, so
    bit 63 works without ANSI overflow.  Order-free, bit-identical to
    the SQL oracle.
    """
    if not 1 <= bits <= 64:
        raise ValueError("simhash: bits must be in 1..64")
    md5s = F.transform(tokens(col), lambda s: F.md5(s))
    hashes = F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))

    # bit bp of h, with bp a COLUMN: floor(h / 2^bp) % 2 — h < 2^32 and
    # powers of two are exact in double, so the division is exact.
    def bit_of(h, bp):
        return F.pmod(F.floor(h / F.pow(F.lit(2.0), bp)), F.lit(2))

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, bp: a
            + F.when(
                F.when(bp < 32, bit_of(h["h1"], bp)).otherwise(
                    bit_of(h["h2"], bp - 32)
                )
                == 1,
                1,
            ).otherwise(-1),
        ),
    )

    def half(offset: int, width: int) -> Column:
        weighted = F.zip_with(
            F.slice(votes, offset + 1, width),
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda v, bp: F.when(v > 0, F.pow(F.lit(2.0), bp)).otherwise(F.lit(0.0)),
        )
        return F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x).cast("long")

    lo = half(0, min(bits, 32))
    if bits <= 32:
        return lo
    hi = half(32, bits - 32)
    hi_signed = F.when(hi >= F.lit(2_147_483_648), hi - F.lit(4_294_967_296)).otherwise(hi)
    return hi_signed * F.lit(4_294_967_296) + lo


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: "int | None" = 500,
) -> DataFrame:
    """Near-duplicate pairs with ``hamming(simhash) ≤ max_hamming``.

    Scale shape — the standard chunk-split (pigeonhole) trick: split the
    sketch into ``max_hamming + 1`` equal chunks; any pair within the
    bound must agree EXACTLY on at least one chunk, so candidates come
    from an equi-join on (chunk index, chunk value) — bounded fan-out,
    no cross join — and only candidates pay the popcount verify.
    Output: (id_a, id_b, hamming), id_a < id_b.

    ``bits=64`` (the standard SimHash width) matters for scale: with
    ``max_hamming=3`` the chunks are 16 bits → 65,536 distinct values
    per chunk index, vs only 256 at 32 bits — where expected bucket
    size grows linearly with corpus size and the per-bucket-quadratic
    join melts down (the r09 sf1 sweep crashed the JVM on exactly
    that).  ``max_bucket`` (ON by default — same contract as
    :func:`minhash_lsh_pairs`) additionally DROPS any (chunk index,
    chunk value) bucket larger than the cap before the join: an
    oversized chunk bucket means that chunk carries no discriminative
    power, and true near-dup pairs (≤ ``max_hamming`` differing bits
    across 4 chunks) almost always also agree on another, smaller
    chunk.  ``max_bucket=None`` restores exact behavior.
    """
    c = max_hamming + 1
    if bits % c != 0:
        raise ValueError("simhash_pairs: (max_hamming + 1) must divide bits")
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (or None)")
    chunk_bits = bits // c
    mask = (1 << chunk_bits) - 1

    # (id, sh) is SLIM (16 B/doc) while the per-token sketch expression is
    # the expensive part — persist pins ONE evaluation of it per session
    # (uncapped path: both sides of the chunk self-join; capped path: the
    # bucket pass) without relying on Catalyst's ReusedExchange kicking in
    base = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), simhash(text_col, bits).alias("sh"))
        .transform(persist)
    )
    chunks = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("sh"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(c)
                ]
            )
        ).alias("ch"),
    ).select("id", "sh", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))

    if max_bucket is not None:
        # r17 (guide §2.4): capped chunk-bucket candidates in ONE
        # width-pinned exchange — see _capped_bucket_arrays.  The sketch
        # rides inside the collected struct (8 bytes/id), so the hamming
        # verify is a popcount over the exploded pair — no join back to
        # `base`, exactly like the old chunk self-join.  Null-id rows
        # still count toward __n__ (cap semantics unchanged) but collect
        # to nothing (the old ``a.id < b.id`` never paired them).
        bkt = _capped_bucket_arrays(
            chunks, ["ci", "cv"], "simhash", max_bucket,
            _verify_width(df),
            F.collect_list(
                F.when(F.col("id").isNotNull(), F.struct("id", "sh"))
            ),
        )
        pairs = bkt.select(
            F.explode(_bucket_pairs(F.col("__ids__"))).alias("__p__")
        )
        hamming = F.bit_count(
            F.col("__p__.a.sh").bitwiseXOR(F.col("__p__.b.sh"))
        )
        return (
            pairs.select(
                F.least("__p__.a.id", "__p__.b.id").alias("id_a"),
                F.greatest("__p__.a.id", "__p__.b.id").alias("id_b"),
                hamming.cast("long").alias("hamming"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )

    # The sketch rides along through the explode (8 bytes/row on the chunk
    # shuffle), so the hamming verify is a popcount on columns already in
    # hand — no join back to `base`.  Verify-BEFORE-dedup: bit_count is one
    # instruction, and the ≤k filter shrinks the dedup's shuffle input.
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, on=[F.col("a.ci") == F.col("b.ci"), F.col("a.cv") == F.col("b.cv")])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Docs whose simhash collides exactly (hamming-0 near-dups):
    (simhash, keeper_id, dup_count) for groups of size ≥ 2.

    Hamming-≤k joins at scale use the standard trick — split the sketch
    into k+1 chunks, equi-join on any equal chunk — which is
    :func:`minhash_lsh_pairs`' banding applied to simhash; exact-collide
    groups are the hash-aggregate fast path.
    """
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), simhash(text_col, bits).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node ``u`` connects its STRICTLY
    LARGER neighbors to ``m = min(Γ(u) ∪ {u})``.

    Expressed without ``collect_list`` — a per-node min aggregate joined
    back onto the symmetrized edge list, so a high-degree hub (the
    eventual cluster center holds degree = cluster size) never has to
    materialize its neighborhood in one task: both the aggregate and the
    join are plain hash shuffles on the node id, spillable and
    AQE-skew-splittable.  Output edges are canonical (src > dst).
    """
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node ``u`` connects its ≤ neighbors
    (and itself) to ``m = min(Γ⁻(u) ∪ {u})``.  Input and output are both
    canonical (src > dst); same join-not-collect shape as
    :func:`_large_star`.
    """
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        edges.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


#: Bytes per canonical edge row (two longs) when the CC edge set is
#: sized against the session's TINY broadcast bound.
_EDGE_BYTES = 16


def _min_id_components(src, dst):
    """Exact connected components of an edge list, in numpy →
    ``(ids, labels)`` over every endpoint, ``labels`` = the minimum id
    in each node's component.

    Min-label hooking with pointer jumping over ``np.unique``-compacted
    ids (sorted, so the smallest index is the smallest id): each pass
    hangs every edge's larger root under its smaller root, then jumps
    every node straight to its root.  A pass that finds a split edge
    removes at least one root, so the loop ends; once every edge joins
    equal roots each component has one root, and that root is its
    minimum because a node only ever points at smaller indices.
    """
    import numpy as np

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return ids, ids[parent]
        np.minimum.at(parent, np.maximum(ra, rb)[split], np.minimum(ra, rb)[split])
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _driver_attach(edges: DataFrame) -> DataFrame:
    """Finish connected components of a TINY canonical edge set on the
    driver: one Arrow collect, :func:`_min_id_components`, and the
    ``(src, l)`` attach frame (every non-minimum node → its component
    minimum) back through ``createDataFrame``."""
    import pandas as pd

    pdf = edges.toPandas()
    ids, labels = _min_id_components(
        pdf["src"].to_numpy("int64"), pdf["dst"].to_numpy("int64")
    )
    moved = ids != labels
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"src": ids[moved], "l": labels[moved]}), "src long, l long"
    )


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "id",
    max_rounds: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list →
    ``(node, cluster_id, is_keeper, cluster_size)`` with ``cluster_id``
    = the MINIMUM node id in the component.

    This is the step that turns the PAIR generators
    (:func:`minhash_lsh_pairs`, :func:`simhash_pairs`,
    :func:`ngram_jaccard_pairs`, ``cosine_near_dup``) into dedup
    DECISIONS: transitively-connected docs collapse to one keeper
    (``is_keeper`` ⇔ ``node == cluster_id``, the min-id survivor
    convention), everything else in the cluster is a drop candidate.
    The reference has no equivalent (its dedup story ends at
    @GroupSort-style grouping); every production corpus dedup needs it.

    Algorithm: **large-star / small-star alternation** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  Each
    round rewires edges toward per-neighborhood minima, roughly halving
    the distance to the component minimum — convergence is
    O(log n) rounds regardless of component DIAMETER, so a pathological
    10k-link chain (boilerplate drift across a crawl) costs ~15 rounds,
    not 10k like plain min-label propagation.  At the fixed point every
    component is a star centered on its minimum id.  If the edge set is
    still changing after ``max_rounds`` the loop RAISES rather than
    returning half-merged clusters.

    **In-memory finish**: the edge count is known after every
    checkpoint (the initial canonical set and each round's).  Once the
    edge set fits the session's TINY bound —
    ``spark.sql.autoBroadcastJoinThreshold``, 20 MiB by default (the
    reference's TINY input class), at 16 B per edge — it is collected
    once through Arrow and finished exactly on the driver (numpy
    min-label hooking with pointer jumping, :func:`_min_id_components`).
    That replaces the remaining rounds and the exact fixpoint job, whose
    per-job scheduling dominates once the data is small.  A bound ≤ 0
    (broadcast off) keeps the loop fully distributed to its fixpoint.

    Scale shape: each round is two (aggregate + self-join) pairs over
    the edge list — hash shuffles on node id only, no collect_list, no
    driver traffic beyond two scalar counts for the convergence probe.
    The edge set is ``localCheckpoint``-ed every round, which both
    truncates the exponentially-deepening lineage and doubles as the
    cache.  Edge count never exceeds ~|V| after the first round (each
    node keeps ≤1 outgoing edge post-small-star), so intermediate state
    SHRINKS toward |V| regardless of input pair inflation: on a huge
    corpus the distributed rounds do the shrinking and the driver takes
    only the tail, never more than the TINY bound of edges (~1.3M at
    20 MiB).

    ``nodes`` (a frame containing ``node_col``) adds isolated docs as
    singleton clusters; without it only paired nodes are labeled.
    ``stats`` (optional dict) receives ``{"rounds": r, "driver_finish":
    b}`` — ``r`` distributed rounds run, ``b`` whether the driver
    finished the components.
    """
    raw = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    if nodes is not None:
        base = nodes.select(F.col(node_col).cast("long").alias("n")).distinct()
    else:
        base = (
            raw.select(F.col("src").alias("n"))
            .union(raw.select(F.col("dst").alias("n")))
            .distinct()
        )

    def ck_digest(df: DataFrame) -> "tuple[DataFrame, int, object]":
        # Checkpoint + convergence probe in ONE job (r16 optimization,
        # guide §1.2-1 "don't compute things twice"): the probe — edge
        # count plus an order-insensitive exact-sum of a 64-bit edge
        # hash (decimal sum, no ANSI overflow) — rides the eager
        # localCheckpoint materialization as a named observation, so
        # each round runs ONE pass over the edge set instead of
        # checkpoint + a second digest scan (2 jobs → 1 job per round;
        # at scale, one full edge-set read per round saved).  Rounds
        # whose edge set changed almost surely differ in the digest, so
        # the EXACT set-equality join below runs only at the true
        # fixpoint instead of on every count-plateau round.
        from pyspark.sql import Observation

        obs = Observation(f"cc_digest_{next(_OBS_SEQ)}")
        ck = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return ck, m["n"], m["h"]

    # canonical form: src > dst, self-loops dropped, set semantics
    edges, n_edges, h_edges = ck_digest(
        raw.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # the parsed SQLConf value, so a unit-suffixed bound ("20m") reads right
    tiny = pairs.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    converged = n_edges == 0
    driver_finish = not converged and n_edges * _EDGE_BYTES <= tiny
    rounds = 0
    while not (converged or driver_finish) and rounds < max_rounds:
        rounds += 1
        new_edges, new_count, new_hash = ck_digest(_small_star(_large_star(edges)))
        driver_finish = new_count * _EDGE_BYTES <= tiny
        # digest match → confirm set equality exactly (both distinct
        # sets, equal size, B \ A == ∅); the hash pre-filter makes a
        # false trigger of this join astronomically rare, never wrong.
        # A TINY set skips it: the driver finish is exact either way.
        converged = (
            not driver_finish
            and new_count == n_edges
            and new_hash == h_edges
            and new_edges.subtract(edges).isEmpty()
        )
        edges = new_edges
        n_edges, h_edges = new_count, new_hash
    if stats is not None:
        stats["rounds"] = rounds
        stats["driver_finish"] = driver_finish
    if driver_finish:
        attach = _driver_attach(edges)
    elif not converged:
        raise RuntimeError(
            f"dup_clusters: edge set still changing after {max_rounds} "
            "large-star/small-star rounds — rounds needed is O(log n), so "
            "this indicates an extreme graph; raise max_rounds"
        )
    else:
        # fixed point = star forest: every non-minimum node carries exactly
        # one canonical edge to its component minimum (min() guards the
        # invariant)
        attach = edges.groupBy("src").agg(F.min("dst").alias("l"))
    labels = base.join(attach, base["n"] == attach["src"], "left").select(
        "n", F.coalesce(F.col("l"), F.col("n")).alias("l")
    )

    sizes = labels.groupBy("l").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "l")
        .select(
            F.col("n").alias(node_col),
            F.col("l").alias("cluster_id"),
            (F.col("n") == F.col("l")).alias("is_keeper"),
            "cluster_size",
        )
    )


def dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
    keep_by: "Column | str | None" = None,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end fuzzy dedup: pair generation → connected components →
    ONE surviving document per near-duplicate cluster.

    The terminal step of the dedup story: :func:`minhash_lsh_pairs`
    finds candidate pairs, :func:`dup_clusters` turns them into
    decisions, and this function applies the decisions — the returned
    frame is the DEDUPED corpus (every original column preserved) plus
    ``cluster_size`` (how many near-dups this keeper absorbed; 1 =
    unique).  Default keeper choice is the component-minimum id, so the
    output is deterministic and replay-stable.

    ``keep_by`` switches to a QUALITY keeper policy: a column (name or
    expression over ``docs``) scored per document — the cluster's keeper
    is its highest-scoring member, ties broken by minimum id (still
    fully deterministic).  The policy real curation pipelines want:
    among near-duplicate crawls keep the longest / highest-quality
    variant, not the numerically-smallest id.  Clusters whose every
    member scores NULL keep the minimum id (null-safe fallback).

    ``pairs`` substitutes a custom pair frame (``id_a``/``id_b`` — e.g.
    :func:`simhash_pairs` output or an embedding
    ``cosine_near_dup``) for the default MinHash-LSH generation;
    ``lsh_kwargs`` pass through to :func:`minhash_lsh_pairs` otherwise.

    Scale shape: pair generation is band-bucketed (never all-pairs),
    components converge in O(log n) distributed rounds, finishing on the
    driver once the edge set fits the TINY broadcast bound (so a small
    or heavily-shrunk pair list costs a few jobs, not a job per round
    plus a fixpoint check), and the final keeper join is
    a plain hash join on ``id_col`` — the keeper set is ≤ |docs| rows of
    (id, size), never the documents' payload, so only slim keys shuffle
    twice and the corpus payload shuffles once.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, id_col=id_col, threshold=threshold, **lsh_kwargs)
    decisions = dup_clusters(pairs, nodes=docs.select(id_col), node_col=id_col)
    if keep_by is None:
        keepers = decisions.filter(F.col("is_keeper")).select(id_col, "cluster_size")
    else:
        kb = F.col(keep_by) if isinstance(keep_by, str) else keep_by
        # two-stage argmax (max score per cluster → members at the max →
        # min id): works for any id type, slim (id, cluster, score) rows
        # only — the doc payload never rides these shuffles
        scored = decisions.select(id_col, "cluster_id", "cluster_size").join(
            docs.select(id_col, kb.alias("__kb__")), id_col
        )
        mx = scored.groupBy("cluster_id").agg(F.max("__kb__").alias("__mx__"))
        keepers = (
            scored.join(mx, "cluster_id")
            .filter(
                F.col("__kb__").eqNullSafe(F.col("__mx__"))  # all-null cluster
            )
            .groupBy("cluster_id")
            .agg(
                F.min(id_col).alias(id_col),
                F.max("cluster_size").alias("cluster_size"),
            )
            .select(id_col, "cluster_size")
        )
    return docs.join(keepers, id_col, "inner")


def scrub_duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING-level dedup: remove every corpus-duplicated
    ``n``-token span from the documents themselves.

    The third dedup granularity (after whole-document exact dedup and
    near-duplicate document dedup): a span of ``n`` consecutive tokens
    that occurs at least ``min_count`` times ANYWHERE in the corpus
    (other documents or elsewhere in the same one) is scrubbed from all
    its occurrences — the scrub drops every token covered by at least
    one duplicated span, then reassembles the remaining tokens in
    order.  This is the hash-count formulation of exact substring
    dedup as popularised for LLM training corpora (duplicate spans
    memorise disproportionately); a suffix-array formulation finds
    maximal repeats, the n-gram-cover variant here finds the same
    repeated regions with bounded state and pure relational ops.

    Returns one row per input document: ``id_col``, ``clean``
    (scrubbed text), ``n_tokens`` (original), ``n_removed`` (tokens
    dropped).  Documents shorter than ``n`` tokens are kept whole.
    Deterministic — no hashing is involved in the decision, the span
    KEY is the token join itself.

    Scale shape: tokenisation and span enumeration are a projection
    (one scan, no Python); the global span count is a partial-aggregable
    hash aggregate over one row per token position; the duplicated-span
    → occurrence lookup is a LEFT SEMI equi-join (output ≤ span rows,
    immune to hot-span fan-out).  Only duplicated span STARTS ride the
    per-doc shuffle (the ``n``-wide cover expansion happens inside the
    reassembly expression, per doc, after the agg — ``n``× less agg
    input than exploding covered positions).  Nothing is quadratic and
    the only wide payload (the text) rides exactly one shuffle-free
    scan — the span frames carry (id, pos) pairs plus the span string.
    """
    # reassembly evaluates a per-token expression chain over every doc,
    # and on a small/few-file input the final stage inherits the SCAN's
    # partitioning (the cover side broadcasts) — the sf1 probe measured
    # the whole query at 150 s on a 2-partition scan vs 17 s spread
    # (8.8x).  At 100 TB scans come thousands of partitions wide and
    # this is a no-op.
    docs = ensure_parallelism(docs)
    sz = F.size(tokens(F.col(text_col)))
    # the raw text column deliberately does NOT ride along: everything
    # downstream (spans, cover, reassembly) works off the token array,
    # and carrying text through the final join measured ~1.5× slower.
    # No persist either: tokenization is scan-bound, and measurements
    # show caching toked/spans buys nothing at memory cost — the three
    # consumers re-scan, which at 100 TB is the cheaper trade.
    toked = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks__"),
        sz.alias("n_tokens"),
    )
    # one row per span start: (id, pos, gram). sequence() guard — Spark
    # sequence(0, negative) counts DOWN, so short docs must yield [].
    # posexplode_OUTER + null-drop: plain posexplode infers a size()>0
    # filter whose pushdown re-inlines the whole span-building transform
    # below the repartition exchange (see ngram_jaccard_pairs).  Short
    # docs yield an empty array → outer emits one (null, null) row,
    # dropped by the gram filter (a filter on a GENERATED attribute
    # cannot be pushed below the Generate, so nothing is recomputed).
    spans = toked.select(
        F.col(id_col),
        F.posexplode_outer(
            F.when(
                F.col("n_tokens") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - n),
                    lambda i: F.array_join(F.slice(F.col("__toks__"), i + 1, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    ).where(F.col("gram").isNotNull())
    dup_grams = (
        spans.groupBy("gram").agg(F.count(F.lit(1)).alias("__c__"))
        .filter(F.col("__c__") >= min_count)
        .select("gram")
    )
    # collect only the duplicated span STARTS per doc — n× fewer rows
    # through the partial-aggregable collect_set than exploding every
    # covered position; the n-wide expansion happens per doc below
    covered = (
        spans.join(dup_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__starts__"))
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform(F.col("__starts__"), lambda s: F.sequence(s, s + (n - 1)))
        )
    )
    # cover probe is a MAP lookup, not array_contains: a heavily-
    # duplicated long doc has |cover| ≈ n_tokens, and a linear probe per
    # token would make reassembly O(n_tokens²) in that worst case.
    # Untouched docs (no duplicated span) skip the per-token filter
    # entirely — clean is a straight array_join of the token array,
    # byte-identical to filtering an empty cover.
    out = (
        toked.join(covered, id_col, "left")
        .withColumn("__cov__", cov)
        .withColumn(
            "__covmap__",
            F.map_from_entries(
                F.transform(
                    F.col("__cov__"),
                    lambda c: F.struct(c.alias("k"), F.lit(True).alias("v")),
                )
            ),
        )
        .select(
            F.col(id_col),
            F.when(F.col("__starts__").isNull(), F.array_join("__toks__", " "))
            .otherwise(
                F.array_join(
                    # filter INT positions, then fetch kept tokens by
                    # element_at — no per-token struct materialization
                    # (the previous zip_with(struct) chain measured
                    # ~15% slower on the same cover sets)
                    F.transform(
                        F.filter(
                            F.sequence(F.lit(0), F.col("n_tokens") - 1),
                            lambda p: ~F.coalesce(
                                F.try_element_at(F.col("__covmap__"), p),
                                F.lit(False),
                            ),
                        ),
                        lambda p: F.element_at(F.col("__toks__"), p + 1),
                    ),
                    " ",
                )
            )
            .alias("clean"),
            F.col("n_tokens"),
            F.coalesce(F.size("__cov__"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )
    return out


def build_dedup_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Reusable near-dup index of a corpus: (id, shingles, sig).

    The expensive part of MinHash dedup is shingling + signing the
    corpus — ONE scan that this index captures so incremental
    ingestion (:func:`dedup_against_corpus`) never re-pays it.  Band
    keys are deliberately NOT materialized: they are a per-row
    projection of ``sig`` (explode, no shuffle), so the stored index
    stays band-count-agnostic — re-band without rebuilding.  Persist it
    with ``write_flat``/``write_bucketed`` and read it back for the
    next batch.
    """
    # shingling + k-hash signing is the heavy work this index exists to
    # capture — spread it: a few-file history scan otherwise signs the
    # whole corpus on the scan's 1-2 partitions when the index persist
    # materializes (the sf1 probe measured dedup_incremental at 57 s,
    # dominated by exactly that)
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    )
    return base.withColumn("sig", minhash_signature(F.col("shingles"), k, seed))


def band_bucket_counts(index: DataFrame, k: int = 8, bands: int = 4) -> DataFrame:
    """Per-(band, key) document counts of a :func:`build_dedup_index`
    frame: ``(band, key, __n__)``.

    For a STATIC index these counts never change between batches —
    compute them once, persist (or write) alongside the index, and pass
    them to :func:`dedup_against_corpus` via ``bucket_counts=`` so each
    micro-batch skips the re-aggregation of every history band row
    (the r09 bench measured that per-batch pass at ~2× the whole
    query's prior cost).
    """
    return _band_rows(index, k, bands).groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("__n__")
    )


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: "int | None" = 500,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: drop new documents that near-match
    the EXISTING corpus (MinHash-LSH candidates, exact-Jaccard verify,
    ``jaccard ≥ threshold`` ⇒ drop).  Returns the surviving new rows,
    all columns preserved.

    ``max_bucket`` drops (band, key) buckets holding more than this
    many HISTORY documents before the candidate join — see
    :func:`minhash_lsh_pairs` for the rationale (non-discriminative
    mega-buckets drive the join quadratic; the r09 sf1 sweep caught a
    low-entropy corpus doing exactly that in both engines).  The count
    deliberately ignores the batch's own rows: each document's
    admission decision then depends only on (document, index), so the
    survivor set is identical however a stream slices the batch into
    micro-batches (the property :func:`streaming.stream_dedup_ingest`'s
    oracle relies on), and per-batch-row join fan-out is still
    <= max_bucket.

    This is the production shape whole-corpus :func:`dedup_corpus`
    can't serve: a daily batch must not re-pair the full history with
    itself.  Pass ``index=`` (a persisted :func:`build_dedup_index`
    frame) and the historical corpus costs only a slim band-key
    projection per batch — O(|corpus|) re-sign work drops out
    entirely; ``corpus=`` (raw documents) builds the index inline.

    Scale shape: candidate generation is a (band, key) equi-join where
    the NEW side is a typically-broadcastable slim projection; the
    verify join touches only candidate ids; the final filter is a LEFT
    ANTI join of the batch against matched ids.  Within-batch
    duplicates are NOT decided here — run :func:`dedup_corpus` on the
    survivors (cheap: survivors are one batch, not the history).
    """
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= or index=")
    if k % bands != 0:
        raise ValueError("bands must divide k")
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (or None)")
    if bucket_counts is not None:
        # The counts frame is trusted to describe THIS index at THIS
        # (k, bands, seed): a frame built with different parameters or
        # from a stale index silently mis-filters buckets and admits
        # duplicates.  The schema is checkable; the parameter pairing
        # is the caller's contract (documented on band_bucket_counts).
        if max_bucket is None:
            raise ValueError(
                "bucket_counts= was passed but max_bucket=None disables the "
                "bucket cap — the counts frame would be silently ignored"
            )
        expected = {"band", "key", "__n__"}
        got = set(bucket_counts.columns)
        if got != expected:
            raise ValueError(
                f"bucket_counts must have columns {sorted(expected)} (a "
                f"band_bucket_counts frame), got {sorted(got)}; it must be "
                f"built from THIS index with the same k/bands/seed"
            )
    if index is None:
        index = build_dedup_index(
            corpus, id_col=id_col, text_col=text_col, n=n, k=k, seed=seed
        )
    index = index.transform(persist)
    # build_dedup_index applies the scan-split guard itself
    new_index = build_dedup_index(
        new_docs, id_col=id_col, text_col=text_col, n=n, k=k, seed=seed
    ).transform(persist)

    hist_rows = _band_rows(index, k, bands)
    new_rows = _band_rows(new_index, k, bands)
    if max_bucket is not None:
        # HISTORY-ONLY bucket counts.  Counting the batch's own rows
        # into the cap made each doc's admission depend on what else
        # happened to arrive in the same micro-batch — the r09 sf1
        # streaming sweep caught stream_dedup_ingest diverging from its
        # whole-batch oracle for exactly this reason.  Against a fixed
        # index the per-doc decision is now batch-size-independent, and
        # the join fan-out is still bounded: <= max_bucket candidate
        # rows per batch band row.  The semi-join also drops batch rows
        # whose bucket has NO history presence (no match possible), so
        # only joinable band rows ride the shuffle.
        #
        # The counts are static for a static index: pass a persisted
        # :func:`band_bucket_counts` frame via ``bucket_counts=`` and
        # the per-batch aggregation over every history band row drops
        # out.  r17 (guide §2.4): either way the history side collapses
        # to ONE bounded array per capped bucket (<= max_bucket ids; a
        # history bucket with ONE row still matters — batch rows can
        # match it — so no pairable cut here) and the candidate join
        # ships one slim bucket row per (band, key) instead of
        # re-joining every history band row; the explode of the array
        # against each matching batch row reproduces the old join's
        # fan-out exactly (<= max_bucket candidates per batch band
        # row).  The width pin on the (old_id, new_id) dedup exchange
        # is _lsh_candidates' width guard (sf1 probe: 10.7 vs 7.8 s).
        width = _verify_width(new_docs)
        if bucket_counts is None:
            hist_bkt = _capped_bucket_arrays(
                hist_rows, ["band", "key"], "dedup_corpus", max_bucket,
                width, F.collect_list("id"), require_pairable=False,
            )
        else:
            keep = _observe_cap(bucket_counts, "dedup_corpus", max_bucket).filter(
                F.col("__n__") <= max_bucket
            ).select("band", "key")
            hist_bkt = (
                hist_rows.join(keep, ["band", "key"], "left_semi")
                .groupBy("band", "key")
                .agg(F.collect_list("id").alias("__ids__"))
            )
        cand = (
            new_rows.join(hist_bkt, ["band", "key"])
            .select(
                F.explode("__ids__").alias("old_id"),
                F.col("id").alias("new_id"),
            )
            .repartition(width, "old_id", "new_id")
            .dropDuplicates(["old_id", "new_id"])
        )
    else:
        cand = (
            hist_rows.alias("a")
            .join(
                new_rows.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.key") == F.col("b.key"),
                ],
            )
            .select(F.col("a.id").alias("old_id"), F.col("b.id").alias("new_id"))
            .dropDuplicates(["old_id", "new_id"])
            # _lsh_candidates' width guard for the verify below
            .repartition(_verify_width(new_docs))
        )
    verified = cand.join(
        index.select(F.col("id").alias("old_id"), F.col("shingles").alias("sh_a")),
        "old_id",
    ).join(
        new_index.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_b")),
        "new_id",
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    matched = (
        verified.filter(inter.cast("double") / union.cast("double") >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(matched, id_col, "left_anti")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 20,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    seed: int = 42,
    max_bucket: "int | None" = 500,
) -> DataFrame:
    """Fuzzy-duplicate pairs verified by EXACT edit distance:
    MinHash-LSH band candidates → native ``levenshtein`` verify →
    ``(id_a, id_b, edit_distance)`` with distance ≤ ``max_distance``,
    id_a < id_b.

    The complement of :func:`minhash_lsh_pairs`' Jaccard verify: set
    similarity is order-free (misses transpositions, over-matches
    shuffled text); edit distance is the character-level ground truth
    pipelines reach for when near-dup candidates need an exact
    byte-drift bound (OCR variants, template fills, boilerplate
    patches).  All-pairs Levenshtein is quadratic and unshippable —
    candidates come from :func:`_lsh_candidates` (MinHash's capped band
    join and width pin), so only plausibly-similar pairs pay the O(len²)
    verify, JVM-side, against a pruned re-scan of the source: the tiny
    candidate list is broadcast, so texts never cross a shuffle.

    Cross-engine note: Spark's levenshtein counts CHARACTERS, DuckDB's
    counts BYTES — identical on ASCII text (the oracle corpus), off by
    the UTF-8 continuation count on non-ASCII; the oracle contract
    pins the ASCII case.
    """
    _, cand = _lsh_candidates(
        df, id_col, text_col, n, k, bands, seed, max_bucket, "edit_distance"
    )
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    verified = cand.join(
        texts.select(F.col("id").alias("id_a"), F.col("txt").alias("t_a")), "id_a"
    ).join(
        texts.select(F.col("id").alias("id_b"), F.col("txt").alias("t_b")), "id_b"
    )
    # Length prefilter (VERDICT r13 Next #4): deletions/insertions alone
    # cost |len(a) − len(b)|, so any pair whose length gap exceeds the
    # bound can never verify — an exact prune that skips the DP entirely
    # (the heaviest verified stage in the project: ~35k multi-KB pairs
    # at sf1).  Null texts produce a null predicate → dropped, same as
    # the existing edit_distance >= 0 filter already guaranteed.
    verified = verified.filter(
        F.abs(F.length("t_a") - F.length("t_b")) <= max_distance
    )
    # 3-arg levenshtein early-exits the O(len_a × len_b) DP as soon as
    # every path exceeds the threshold (returns -1 past the bound) — a
    # free cut on the verify stage since rejected candidates are the
    # common case.  Kept pairs still carry the exact distance.
    return (
        verified.withColumn(
            "edit_distance",
            F.levenshtein("t_a", "t_b", int(max_distance)).cast("long"),
        )
        .filter(
            (F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_distance)
        )
        .select("id_a", "id_b", "edit_distance")
    )
