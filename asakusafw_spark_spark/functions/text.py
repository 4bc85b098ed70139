"""Text-analysis operators for training-data pipelines.

All are pure native Column expressions — JVM-side, whole-stage
codegen'd, zero Python in the hot path — so they cost one pass over the
text bytes at any scale.  Each has an exactly-equivalent ANSI-SQL form
(used by the DuckDB oracle), which doubles as the determinism contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..caching import persist

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small + frozen: the heuristic is the
#: contract, not linguistic accuracy.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "en", "que", "por"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens; empty/null-safe (NULL or empty text → empty
    array).  The null case must be EXPLICIT: ``trim(NULL) = ''`` is
    null, so the previous empty-only guard fell through to
    ``split(NULL)`` = a NULL array — and every downstream consumer
    (size = -1, shingles = [null], simhash of nothing) diverged from
    the oracle twins' documented null→no-tokens semantics.  Caught by
    the r13 null-injected oracle sweep."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def token_count(col: Column | str) -> Column:
    """Number of whitespace-delimited tokens."""
    return F.size(tokens(col)).cast("long")


#: BPE-style pre-tokenization pieces (GPT-2-family shape, simplified to a
#: subset that Java regex and RE2/DuckDB interpret identically): letter
#: runs, digit runs (length-capped at 3 like modern tokenizers), and
#: single non-space symbols.  The CONTRACT is the regex, not any specific
#: tokenizer's vocab — counts approximate LLM token budgets ~piece-level.
BPE_PIECE_REGEX = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate LLM-token count: number of BPE-style pre-tokenization
    pieces (``BPE_PIECE_REGEX`` matches).  Native ``regexp_count`` — one
    JVM-side pass, no Python — for corpus token budgeting at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PIECE_REGEX)).cast("long")


def lang_id(col: Column | str, default: str = "unknown") -> Column:
    """Stopword-hit language ID: the language whose stopword set shares
    the most DISTINCT tokens with the text wins; ties break to the
    alphabetically-first code; zero hits everywhere → ``default``.

    Shape is a chained CASE over per-language hit counts — exactly
    replicable in ANSI SQL (the oracle uses the same argmax chain).
    """
    toks = tokens(col)
    codes = sorted(STOPWORDS)
    hits = {
        code: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[code]]))
        )
        for code in codes
    }
    expr = F.when(F.greatest(*hits.values()) <= 0, F.lit(default))
    for i, code in enumerate(codes[:-1]):
        cond = None
        for other in codes[i + 1 :]:
            c = hits[code] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = expr.when(cond, F.lit(code))
    return expr.otherwise(F.lit(codes[-1]))


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0, 1] (rounded to 6 decimals):

    ``0.4·distinct_token_ratio + 0.3·min(1, avg_word_len/8) +
    0.3·alpha_char_ratio``

    Each term is a ratio of integer counts, so the double arithmetic is
    order-independent and oracle-exact.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    distinct_ratio = F.when(n_tok > 0, n_distinct / n_tok).otherwise(F.lit(0.0))
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    avg_word_len = F.when(n_tok > 0, nonspace / n_tok).otherwise(F.lit(0.0))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    total = F.length(c)
    alpha_ratio = F.when(total > 0, alpha / total).otherwise(F.lit(0.0))
    score = (
        distinct_ratio * 0.4
        + F.least(F.lit(1.0), avg_word_len / 8.0) * 0.3
        + alpha_ratio * 0.3
    )
    return F.round(score, 6)


def corpus_stats(df, lang_col: str = "lang", text_col: str = "text"):
    """Per-language corpus profile: doc count, total/median token counts,
    mean quality — the one-pass summary a curation pipeline runs before
    and after each filter stage.

    One scan → one partial-aggregable hash aggregate (median via exact
    ``percentile``, which Spark computes with a single sort-based
    aggregate per group).  All outputs are integer-derived or rounded
    ratios, so the oracle hash-matches.
    """
    base = df.withColumn("__nt", token_count(text_col)).withColumn(
        "__q", quality_score(text_col)
    )
    return base.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.round(F.expr("percentile(__nt, 0.5)"), 6).alias("median_tokens"),
        F.round(F.avg("__q"), 6).alias("avg_quality"),
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """NON-distinct word n-grams (array<string>) — the multiset, for
    repetition measurement; texts with fewer than ``n`` tokens yield an
    empty array (contrast :func:`~.dedup.word_shingles`, which is
    distinct and falls back to the whole text)."""
    toks = tokens(col)
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), sz - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_signals(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top2_threshold: float = 0.20,
    dup3_threshold: float = 0.18,
):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    token-count approximation): per doc,

    - ``dup_2gram_ratio`` / ``dup_3gram_ratio`` — fraction of n-grams
      that are repeats (1 − distinct/total),
    - ``top_2gram_share`` — fraction of 2-grams taken by the single most
      frequent 2-gram,
    - ``repetitive`` — the drop flag:
      ``top_2gram_share > top2_threshold OR dup_3gram_ratio >
      dup3_threshold`` (Gopher's published cut points).

    Looping/boilerplate text (the classic web-crawl failure mode) scores
    high on these even when :func:`quality_score`'s distinct-TOKEN ratio
    looks fine, because repetition lives at phrase granularity.

    Scale shape: pure native Column expressions over the token array —
    one scan, no shuffle, no Python.  The top-gram count is
    O(distinct·total) per row (array-local, no cross-row state); ratios
    are single IEEE divisions of integer counts, rounded to 6 dp, so the
    DuckDB oracle hash-matches exactly.
    """
    g = df.select(
        F.col(id_col),
        word_ngrams(text_col, 2).alias("g2"),
        word_ngrams(text_col, 3).alias("g3"),
    )
    n2, n3 = F.size("g2"), F.size("g3")
    d2 = F.size(F.array_distinct("g2"))
    d3 = F.size(F.array_distinct("g3"))
    top2 = F.array_max(
        F.transform(
            F.array_distinct("g2"),
            lambda u: F.size(F.filter("g2", lambda x: x == u)),
        )
    )
    dup2 = F.round(F.when(n2 > 0, 1.0 - d2 / n2).otherwise(F.lit(0.0)), 6)
    dup3 = F.round(F.when(n3 > 0, 1.0 - d3 / n3).otherwise(F.lit(0.0)), 6)
    top2s = F.round(F.when(n2 > 0, top2 / n2).otherwise(F.lit(0.0)), 6)
    return g.select(
        F.col(id_col),
        dup2.alias("dup_2gram_ratio"),
        dup3.alias("dup_3gram_ratio"),
        top2s.alias("top_2gram_share"),
        (
            (top2s > F.lit(top2_threshold)) | (dup3 > F.lit(dup3_threshold))
        ).alias("repetitive"),
    )


def quality_quantile_filter(
    df,
    drop_frac: float = 0.1,
    by: tuple[str, ...] | list[str] = ("lang",),
    text_col: str = "text",
    score_col: str | None = None,
    approx: bool = False,
):
    """Drop each group's bottom ``drop_frac`` quality quantile.

    Absolute-threshold filtering (``quality >= 0.5``) breaks when score
    distributions differ by language/source; quantile filtering removes
    the worst X% WITHIN each group, which is how production corpus
    pruning is actually run.  Adds a ``quality`` column (the score the
    cut was made on) to the surviving rows.

    ``approx=False`` (default, oracle-exact): ``cume_dist`` over
    (group, score) — a row survives iff MORE than ``drop_frac`` of its
    group scores ≤ it.  Rank semantics, no float interpolation, ties
    share a value so the kept SET is deterministic regardless of
    physical row order, and a group whose scores are ALL tied (or a
    singleton group) is kept whole — every row's cume_dist is 1.0
    (``percent_rank`` would be 0.0 for every such row and silently drop
    the entire group).  One sort-shuffle per group; a group's rows must
    be sortable within its partition (Tungsten sort, spills).  At
    100 TB a handful of giant language groups make this a few wide
    sorted partitions — acceptable for one pass, but the scale path is
    ``approx=True``: per-group ``percentile_approx`` cutoffs
    (map-side-combinable aggregate, broadcast join back, no global
    per-group sort) at the cost of a sketch-accurate (not exact)
    boundary.

    ``score_col`` reuses an existing score column instead of computing
    :func:`quality_score` over ``text_col``.
    """
    from pyspark.sql import Window

    score = F.col(score_col) if score_col else quality_score(text_col)
    scored = df.withColumn("quality", score)
    keys = list(by)
    if approx:
        cuts = scored.groupBy(*keys).agg(
            F.percentile_approx("quality", drop_frac).alias("__cut__")
        )
        out = scored.join(F.broadcast(cuts), keys)
        return out.filter(F.col("quality") >= F.col("__cut__")).drop("__cut__")
    w = Window.partitionBy(*keys).orderBy(F.col("quality").asc())
    out = scored.withColumn("__cd__", F.cume_dist().over(w))
    return out.filter(F.col("__cd__") > drop_frac).drop("__cd__")


def chunk_documents(
    df,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Split long documents into token-budgeted sliding chunks — the
    long-document → training-window step of an LLM data pipeline.

    One output row per chunk: ``(id, chunk_id, chunk_text, n_tokens)``.
    Chunk starts advance by ``chunk_tokens - overlap``; the final chunk
    may be short, and a document shorter than the chunk size yields
    exactly one chunk.  Empty/null documents yield nothing.

    Scale shape: tokenize → ``sequence`` of chunk starts → ``explode``
    → ``slice`` — all native Column expressions, a pure row-multiplying
    projection with NO shuffle and no Python; Catalyst keeps the whole
    op inside one codegen stage, so at 100 TB it runs at scan speed.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_documents: chunk_tokens must be positive")
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("chunk_documents: need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).where(F.size("__toks") > 0)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("__toks") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    # explode_outer: a plain explode's inferred size()>0 filter would
    # re-evaluate the sequence (and the tokens projection it references)
    # a second time below this projection; `starts` is never empty
    # (sequence from 0 with a non-negative stop) so outer is identical
    e = t.select(F.col(id_col), F.col("__toks"), F.explode_outer(starts).alias("__start"))
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return e.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


#: Default PII redaction rules: name → (pattern, replacement).  Patterns
#: are restricted to the regex subset Java and RE2/DuckDB interpret
#: identically (no lookaround, no backreferences) so the operation is
#: oracle-exact; applied in sorted-name order (email → ipv4 → phone).
DEFAULT_REDACT_RULES: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\+[0-9]{7,15}\b", "<PHONE>"),
}


def redact(
    col: Column | str, rules: dict[str, tuple[str, str]] | None = None
) -> Column:
    """PII scrubbing: chained native ``regexp_replace`` over the rule
    set, applied in sorted-name order for determinism.  Zero Python —
    one JVM pass per rule over the text bytes, whole-stage codegen'd,
    exactly what a 100 TB pre-training scrub needs.  Custom ``rules``
    must stay inside the Java∩RE2 regex subset to remain oracle-exact.
    """
    c = F.col(col) if isinstance(col, str) else col
    ruleset = DEFAULT_REDACT_RULES if rules is None else rules
    for name in sorted(ruleset):
        pat, repl = ruleset[name]
        c = F.regexp_replace(c, pat, repl)
    return c


def vocab_top_k(
    df,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens with
    term frequency (total occurrences) and document frequency (docs
    containing the token) → ``(token, tf, df, rank)``.

    Scale shape: explode → hash-aggregate (map-side combinable) →
    ``orderBy(...).limit(k)``, which Spark executes as distributed
    TakeOrderedAndProject (per-partition top-k, then a k-row driver
    merge) — NO global sort, no single-partition window over the full
    vocabulary.  Rank is assigned by a window over the ≤k-row result.
    Ties break token-ascending for determinism.
    """
    from pyspark.sql import Window as W

    # explode_outer + null-drop: a plain explode's inferred size()>0
    # filter re-evaluates tokens() a second time (and below any
    # exchange); tokens() can be empty/null, so outer emits one null
    # row per empty doc which the generated-attribute filter drops
    ex = df.select(
        F.col(id_col).alias("__d__"),
        F.explode_outer(tokens(text_col)).alias("token"),
    ).where(F.col("token").isNotNull())
    stats = ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("__d__").alias("df"),
    )
    top = stats.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)
    w = W.orderBy(F.col("tf").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
):
    """Per-document TF-IDF over whitespace tokens →
    ``(id_col, token, tf, doc_freq, tfidf)`` with smoothed IDF
    ``ln((N+1)/(df+1)) + 1`` (sklearn's ``smooth_idf`` convention) and
    ``tfidf = tf · idf`` rounded to 6 decimals (each row derives from
    integer counts through one double expression — no
    aggregation-order float drift, oracle-exact).

    Scale shape: two hash aggregates (doc×token counts, then token doc
    frequencies) + one equi-join on token (AQE picks the strategy — the
    doc-frequency side is NOT force-broadcast, vocabularies outgrow any
    broadcast threshold at corpus scale) + a 1-row broadcast of N.
    ``min_df`` prunes hapax noise before the join.
    """
    # explode_outer + null-drop — see vocab_top_k for why
    ex = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("token")
    ).where(F.col("token").isNotNull())
    tf = ex.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
    )
    ndf = df.select(F.countDistinct(id_col).alias("__n__"))
    idf = F.log((F.col("__n__") + 1) / (F.col("doc_freq") + 1)) + 1
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(ndf))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
        .drop("__n__")
        .select(id_col, "token", "tf", "doc_freq", "tfidf")
    )


def extract_json(
    df: DataFrame,
    json_col: str,
    fields: "dict[str, str]",
) -> DataFrame:
    """Project typed columns out of a JSON-string column.

    ``fields`` maps output column name → ``"$.path:type"`` (type is any
    Spark cast target — ``bigint``, ``double``, ``string``, …; omit
    ``:type`` for string).  Missing paths / nulls / type mismatches
    yield NULL, matching semi-structured source reality.  All original
    columns are preserved; extraction is ``get_json_object`` + cast —
    native, codegen'd, zero Python, no shuffle, and pushdown-friendly
    (a filter on an extracted column stays in the same scan stage).

    This is the event-log ingestion front door the reference delegates
    to user Java parsing code (SURVEY.md §2.7): attribute extraction
    from a semi-structured payload column at scan speed.
    """
    out = df
    for name, spec in fields.items():
        path, _, typ = spec.partition(":")
        c = F.get_json_object(F.col(json_col), path)
        out = out.withColumn(name, c.cast(typ) if typ else c)
    return out


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization for curation pipelines: lowercase,
    straighten curly quotes/dashes, strip control characters, collapse
    runs of whitespace, trim.  A deterministic chain of native
    ``lower``/``regexp_replace``/``translate`` — zero Python, one pass,
    and every rule sits in the Java∩RE2∩POSIX regex subset so the SQL
    oracle is exact.

    Run it BEFORE hashing/fingerprinting so near-identical crawls of
    the same page (smart quotes vs ascii, NBSP vs space, case) collapse
    to one canonical form — it is the front half of
    :func:`fingerprint`'s normalize-then-hash contract, exposed for
    pipelines that need the normalized TEXT, not just its hash.
    """
    c = F.col(col) if isinstance(col, str) else col
    # typographic → ascii: quotes, dashes, ellipsis, NBSP
    c = F.translate(c, "‘’“”–— ", "''\"\"-- ")
    c = F.regexp_replace(c, "…", "...")
    # control chars (C0 except \t\n\r which fold into whitespace below)
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    c = F.lower(c)
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def bm25_rank(
    df: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int | None = None,
) -> DataFrame:
    """BM25 document ranking for a bag of query terms →
    (``id_col``, ``score``), highest first when ``top_n`` is set.

    The classic retrieval scorer (Robertson/Sparck Jones):
    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``.  Every input to the
    double math is an integer count (tf, df, N, dl) or their exact
    ratio, composed in one fixed expression per row and rounded to 6
    decimals — aggregation order cannot perturb it, so the SQL oracle
    is exact.  Documents matching no term score 0 and are omitted.

    Scale shape: the corpus scan computes (doc, dl) and per-doc tf for
    ONLY the query terms (an `isin` filter pushed into the token
    explode — the vocabulary never materializes); df/N/avgdl are a
    handful of scalars broadcast back; the score is a projection and
    ``top_n`` ranks via TakeOrderedAndProject.  Per-query cost is one
    corpus scan regardless of vocabulary size; for interactive query
    loads, build an inverted index with :func:`tfidf` + a bucketed
    write instead.
    """
    terms = sorted(set(query_terms))
    # r17 (guide §1.2-1): ONE tokenize pass instead of two.  The corpus
    # used to be scanned + tokenized twice — once for the per-doc term
    # stream, once for the (N, total_len) stats aggregate.  Tokenize into
    # a SLIM per-doc frame — (id, dl, matched query terms only; the
    # vocabulary never materializes and no text rides the cache) — and
    # persist it; the stats aggregate and the term stream both read the
    # cached frame, and so does the returned frame, lazily: the persist
    # is registered with the caller's cache scope (``caching``).  Expressions are unchanged (dl = size(tokens(text)),
    # N = countDistinct(id), total_len = sum(dl) over raw rows), so the
    # score is bit-identical on every corpus including duplicate ids.
    docs = df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("__dl__"),
        F.filter(tokens(text_col), lambda t: t.isin(*terms)).alias("__q__"),
    ).transform(persist)
    base = docs.select(
        F.col(id_col),
        F.col("__dl__"),
        # explode_outer + null-drop — see vocab_top_k; docs matching no
        # term explode to one null row, dropped here (they scored 0 and
        # were omitted before, identically)
        F.explode_outer("__q__").alias("token"),
    ).where(F.col("token").isNotNull())
    tf = base.groupBy(id_col, "__dl__", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = docs.select(
        F.countDistinct(F.col(id_col)).alias("__n__"),
        F.sum("__dl__").alias("__tl__"),
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("__tl__").cast("double") / F.col("__n__")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n__") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl__") / avgdl
    )
    term_score = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    # per-term scores are exact (fixed expression over ints), but the
    # per-doc SUM of doubles is reduction-order-dependent — accumulate
    # in decimal (order-free) and convert once at the end
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(term_score.try_cast("decimal(27,12)")).cast("double"), 6
            ).alias("score")
        )
    )
    if top_n is not None:
        scored = scored.orderBy(
            F.col("score").desc(), F.col(id_col).asc()
        ).limit(top_n)
    return scored


def build_text_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> "tuple[DataFrame, DataFrame]":
    """Build a BM25-ready inverted index: returns ``(postings, stats)``.

    ``postings`` — one row per (token, doc): (``token``, ``id_col``,
    ``tf``, ``dl``, ``df``); ``stats`` — one row: (``n_docs``,
    ``total_len``).  Persist both (postings bucketed BY TOKEN via
    ``write_bucketed`` — then a query's term filter prunes straight to
    its buckets) and answer queries with :func:`search_text_index`
    without ever rescanning the corpus — the indexed complement of the
    scan-per-query :func:`bm25_rank`.

    ``min_df`` drops hapax tokens from the postings (noise + the long
    tail of the vocabulary); scoring semantics for surviving terms are
    IDENTICAL to :func:`bm25_rank` over the same corpus.
    """
    # explode_outer + null-drop — see vocab_top_k for why.
    #
    # Stats come from a SECOND corpus scan (one global aggregate over
    # |docs| rows, map-side partial, no shuffle) — deliberately.  A
    # one-tokenize variant that derived (n_docs, total_len) from the tf
    # exchange itself (null row per token-less doc riding through the
    # aggregate, ReusedExchange serving both branches) was landed and
    # then REVERTED in r17: the "saved" corpus scan was replaced by a
    # countDistinct(id) pass over the postings-sized tf stream, whose
    # cost GROWS with the corpus — measured 0.44 vs 0.60 s at sf0.1 and
    # 2.13 vs 5.27 s min (29 vs 141 tasks) at a 10x sf1 probe, old shape
    # faster at both scales.  A second scan+tokenize is embarrassingly
    # parallel and shuffle-free; re-aggregating the exploded token
    # stream is not.  (Caching the per-doc token arrays instead would
    # put the whole corpus in cache — the r14 slim-persist lesson.)
    ex = df.select(
        F.col(id_col), tokens(text_col).alias("__toks__")
    ).select(
        F.col(id_col),
        F.size("__toks__").alias("dl"),
        F.explode_outer("__toks__").alias("token"),
    ).where(F.col("token").isNotNull())
    tf = ex.groupBy("token", id_col, "dl").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    postings = tf.join(dfreq, "token").select("token", id_col, "tf", "dl", "df")
    stats = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("total_len"),
    )
    return postings, stats


def search_text_index(
    postings: DataFrame,
    stats: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int | None = None,
) -> DataFrame:
    """BM25 search against a prebuilt :func:`build_text_index` —
    (``id_col``, ``score``), same scoring contract as :func:`bm25_rank`.

    Per query this touches ONLY the query terms' posting rows (with a
    token-bucketed stored index the filter prunes to those buckets; no
    corpus scan, no vocabulary-wide work) plus a 1-row stats broadcast —
    the right cost model for interactive/high-QPS retrieval at corpus
    scale.
    """
    terms = sorted(set(query_terms))
    hit = postings.filter(F.col("token").isin(terms))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    term_score = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    scored = (
        hit.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(term_score.try_cast("decimal(27,12)")).cast("double"), 6
            ).alias("score")
        )
    )
    if top_n is not None:
        scored = scored.orderBy(
            F.col("score").desc(), F.col(id_col).asc()
        ).limit(top_n)
    return scored


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: "DataFrame | None" = None,
    k: float = 0.5,
) -> DataFrame:
    """Statistical-LM quality score (the CCNet / perplexity-filter
    signal): per document, the mean log-probability of its token
    bigrams under an add-k-smoothed bigram model trained on
    ``train_df`` (default: the corpus itself) — low scores mark
    gibberish, boilerplate, and out-of-domain text that the heuristic
    :func:`quality_score` cuts miss.

    Model: p(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁) + k·V), V = train bigram-
    successor vocabulary.  Output: (id, n_bigrams, lm_score) with
    lm_score = Σ round(ln p, 6) / n_bigrams — per-bigram log-probs are
    rounded BEFORE the exact-decimal sum so the score is reduction-
    order-independent and cross-engine stable (ln differs in the last
    ulp across libms; at 6 decimals both engines agree).

    Null ``id_col`` semantics (changed r16, noted per ADVICE r16): all
    null-id docs group into ONE scored output row (GROUP BY null
    semantics, matching the SQL oracle).  Before r16 each null-id doc
    emitted its own (n_bigrams=0, lm_score=NULL) row because the old
    distinct-ids re-attach join never matched null.  Filter or assert
    non-null ids upstream if per-doc rows for null ids were relied on.

    Scale shape: bigram extraction is a pure projection
    (slice + arrays_zip + explode — no window, no shuffle); the model
    is two hash aggregates over slim (w₁, w₂) pairs.  Docs with < 2
    tokens score NULL with n_bigrams = 0 — carried through the SAME
    exploded stream (the doc pass keeps explode_outer's one null-pair
    row per empty-bigram doc, flagged ``__real__``), so no third corpus
    scan / distinct-ids join is needed to resurrect them.

    Scoring (r17, guide §2.4 — shuffle the doc stream once, not twice):
    when SELF-trained (``train_df=None``, the default) every real doc
    bigram is by construction present in the model, so the per-bigram
    log-prob is precomputed MODEL-SIDE (c₁₂ ⋈ c₁ on w₁ + the 1-row V
    broadcast — model-sized work) and attached to the doc stream with
    ONE (w₁, w₂) equi-join; the unmatched-bigram smoothing branches can
    never fire and the single left join is exactly equivalent.  With an
    EXPLICIT ``train_df`` a doc bigram can be unseen (needs c₁-only or
    V-only smoothing), so that path keeps the two-join shape: doc
    bigrams → bigram counts → unigram counts, coalesce(0) for misses.
    Either way the final score is one aggregate per document.
    """
    src = train_df if train_df is not None else df

    def bigrams(frame, keep_id):
        toks = tokens(text_col)
        t = frame.select(
            *([F.col(id_col)] if keep_id else []),
            F.when(
                F.size(toks) >= 2,
                F.arrays_zip(
                    F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
                    F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            .alias("__bg__"),
        )
        # explode_outer — see vocab_top_k; empty bigram arrays yield one
        # (null) row.  The TRAIN pass drops it (pure pair stream); the
        # DOC pass keeps it as the zero-bigram doc's representative row
        # (null join keys match nothing in the left joins below).
        ex = t.select(
            *([F.col(id_col)] if keep_id else []),
            F.explode_outer("__bg__").alias("__p__"),
        )
        if not keep_id:
            ex = ex.where(F.col("__p__").isNotNull())
        return ex.select(
            *([F.col(id_col)] if keep_id else []),
            F.col("__p__.w1").alias("w1"),
            F.col("__p__.w2").alias("w2"),
            *([F.col("__p__").isNotNull().alias("__real__")] if keep_id else []),
        )

    train_bg = bigrams(src, keep_id=False)
    # materialize the slim (w1, w2, count) model once (lazy local
    # checkpoint), then derive unigram counts and successor vocabulary
    # from it — one corpus tokenization + shuffle instead of three
    c12 = (
        train_bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c12__"))
        .localCheckpoint(eager=False)
    )
    c1 = c12.groupBy("w1").agg(F.sum("__c12__").cast("long").alias("__c1__"))
    vocab = c12.agg(F.countDistinct("w2").alias("__v__"))

    doc_bg = bigrams(df, keep_id=True)
    if train_df is None:
        # self-trained: fold c1 + V into a per-(w1, w2) log-prob on the
        # MODEL side, then ONE doc-stream join.  Every real doc bigram
        # matches (train bigrams ≡ doc bigrams — same frame, same
        # expression), so the coalesce(0) smoothing branches of the
        # explicit-train path are unreachable here and the single left
        # join is exactly equivalent; the null-pair representative row
        # (null keys) matches nothing and scores NULL via the __real__
        # guard, as before.
        model = (
            c12.join(c1, ["w1"])
            .join(F.broadcast(vocab))
            .select(
                "w1",
                "w2",
                F.round(
                    F.log(
                        (F.col("__c12__").cast("double") + F.lit(k))
                        / (
                            F.col("__c1__").cast("double")
                            + F.lit(k) * F.col("__v__")
                        )
                    ),
                    6,
                ).alias("__logp_m__"),
            )
        )
        scored = doc_bg.join(model, ["w1", "w2"], "left").select(
            F.col(id_col),
            F.col("__real__"),
            F.when(F.col("__real__"), F.col("__logp_m__")).alias("__logp__"),
        )
    else:
        scored = (
            doc_bg.join(c12, ["w1", "w2"], "left")
            .join(c1, ["w1"], "left")
            .join(F.broadcast(vocab))
            .select(
                F.col(id_col),
                F.col("__real__"),
                # guarded on __real__: the zero-bigram representative row
                # must not score ln(k/(k·V)) out of its coalesced-to-0
                # counts
                F.when(
                    F.col("__real__"),
                    F.round(
                        F.log(
                            (
                                F.coalesce(F.col("__c12__"), F.lit(0)).cast(
                                    "double"
                                )
                                + F.lit(k)
                            )
                            / (
                                F.coalesce(F.col("__c1__"), F.lit(0)).cast(
                                    "double"
                                )
                                + F.lit(k) * F.col("__v__")
                            )
                        ),
                        6,
                    ),
                ).alias("__logp__"),
            )
        )
    n_real = F.count(F.when(F.col("__real__"), F.lit(1)))
    return scored.groupBy(id_col).agg(
        n_real.alias("n_bigrams"),
        F.when(
            n_real > 0,
            F.sum(F.col("__logp__").try_cast("decimal(27,6)")).cast("double")
            / n_real,
        ).alias("lm_score"),
    )


#: query parameters stripped by canonicalize_url: click-tracking noise
#: that makes byte-identical content look like distinct URLs
TRACKING_PARAMS_RE = r"(?:utm_[a-z]+|gclid|fbclid|msclkid|ref)="


def canonicalize_url(
    col: Column | str, tracking_params_re: str = TRACKING_PARAMS_RE
) -> Column:
    """Canonical form of an http(s) URL — the dedup key every crawl
    pipeline needs before exact URL dedup: lowercase scheme and host,
    strip the default port (:80 http / :443 https), drop the fragment,
    strip trailing slashes from the path, remove click-tracking query
    parameters (default ``utm_*``/``gclid``/``fbclid``/``msclkid``/
    ``ref``) and SORT the survivors so parameter order stops mattering.

    ``tracking_params_re`` is an anchored-at-``^`` regex alternation of
    ``name=`` prefixes to strip; tune it per corpus — e.g. drop ``ref``
    for sites where ``?ref=branch`` selects CONTENT rather than
    tracking attribution (the default strips it, which over-merges
    there).

    Implementation notes (A/B-measured at 600k rows, single thread):
    anchored ``regexp_extract`` per component beats a ``substring_index``
    /``instr``/``when``-chain rewrite (1.5× — the conditional-substr
    expression tree duplicates subtrees that codegen does not CSE), and
    stripping tracking params with ONE global ``regexp_replace`` on the
    query string beats a higher-order ``filter`` lambda per param
    (interpreted per element).  The DuckDB twin mirrors the exact same
    regex subset (with the ``'g'`` flag on its ``regexp_replace``).
    """
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment never reaches the server
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, r":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, r":443$", ""),
    ).otherwise(host)
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.regexp_replace(query, r"(?:^|&)" + tracking_params_re + r"[^&]*", "")
    params = F.array_sort(F.array_remove(F.split(kept, "&"), ""))
    qpart = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def dedup_urls(
    df: DataFrame, url_col: str = "url", id_col: str | None = None
) -> DataFrame:
    """Exact URL dedup on the canonical form: one row per canonical URL
    with ``(canonical_url, n_rows, n_forms)`` — how many raw rows
    collapsed and how many DISTINCT surface forms they used (tracking
    params, casing, ports, fragments, param order).  One hash aggregate
    with map-side combine; add ``id_col`` to also keep the min id as
    the keeper."""
    base = df.select(
        canonicalize_url(url_col).alias("canonical_url"),
        F.col(url_col).alias("__raw__"),
        *([F.col(id_col)] if id_col else []),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("__raw__").alias("n_forms"),
    ]
    if id_col:
        aggs.append(F.min(id_col).alias("keeper_id"))
    return base.groupBy("canonical_url").agg(*aggs)
