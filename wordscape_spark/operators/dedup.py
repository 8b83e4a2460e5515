"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Reference analog: WordScape dedups at URL/bytehash level (A6/A9/A12/B6/E6,
e.g. /root/reference/app/src/cc_processing/deduplicate.py:10-56 builds an
in-driver hash set).  Here dedup is distributed: hashes are columns, dedup is
a shuffle/broadcast anti-join or LSH band join — no driver-side state.

Determinism & oracle parity: every hash is md5-derived
(``conv(substr(md5(x),1,15),16,10)`` ⇔ DuckDB ``('0x'||substr(md5(x),1,15))
::BIGINT``), so the DuckDB oracle reproduces signatures bit-for-bit.

Scale notes (100 TB):
* signatures are computed per-row with array expressions (no explode) — one
  narrow map stage, whole-stage codegen;
* the LSH band join shuffles only (band_key, doc_id) pairs — band keys are
  md5 strings, well distributed, AQE handles residual skew;
* candidate verification joins shingle sets only for candidate pairs (a tiny
  fraction), never all-pairs.  The ids of docs in candidate pairs are
  broadcast, so that broadcast grows with the number of such docs, up to
  the whole corpus at high duplicate density; without it, both verify
  joins would shuffle every doc's shingle set.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands × 4 rows
SHINGLE_N = 3


def _hash64_spark(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _hash64_duck(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def tokens_expr(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"split(lower(trim({col})), '\\\\s+')"
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


def shingles_expr(col: str, dialect: str, n: int = SHINGLE_N) -> str:
    """Distinct word n-gram shingles as an array expression (no explode).

    Spark side: the token array is bound ONCE via the single-element-array
    lambda trick (same guard as ``simhash``) — a bare ``{toks}[i + j]``
    inside the per-shingle lambda would re-run the split per ELEMENT,
    turning the stage O(tokens²) per document (measured 9.2 s → 0.4 s over
    the 50k-doc corpus when fixed).  DuckDB binds list expressions once,
    so the direct form stays for the oracle dialect."""
    toks = tokens_expr(col, dialect)
    if dialect == "spark":
        parts = ", ".join(f"t[i + {j}]" for j in range(n))
        inner = (
            f"array_distinct(CASE WHEN size(t) < {n} THEN array() "
            f"ELSE transform(sequence(0, size(t) - {n}), "
            f"i -> concat_ws(' ', {parts})) END)"
        )
        return f"transform(array({toks}), t -> {inner})[0]"
    # duckdb: lists are 1-indexed
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"list_distinct(CASE WHEN len({toks}) < {n} THEN [] "
        f"ELSE list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> {parts}) END)"
    )


def minhash_exprs(
    dialect: str, k: int = MINHASH_K, fast: bool = False
) -> list[str]:
    """k minhash values over a `sh` (shingles array) column.

    ``fast=True`` (engine default at scale) uses xxhash64 — one 64-bit hash
    per (i, shingle), no string md5/hex math (~10× cheaper).  The md5 variant
    exists because the DuckDB oracle can reproduce it bit-for-bit.
    """
    out = []
    for i in range(k):
        if dialect == "spark":
            if fast:
                h = f"xxhash64({i}, s)"
            else:
                h = _hash64_spark(f"concat('{i}:', s)")
            out.append(
                f"CASE WHEN size(sh) = 0 THEN {2**62} "
                f"ELSE array_min(transform(sh, s -> {h})) END"
            )
        else:
            h = _hash64_duck(f"'{i}:' || s")
            out.append(
                f"CASE WHEN len(sh) = 0 THEN {2**62} "
                f"ELSE list_min(list_transform(sh, s -> {h})) END"
            )
    return out


def band_key_expr(band: int, dialect: str, rows: int = MINHASH_K // LSH_BANDS) -> str:
    cols = [f"mh{band * rows + j}" for j in range(rows)]
    if dialect == "spark":
        joined = ", ".join(f"CAST({c} AS STRING)" for c in cols)
        return f"md5(concat_ws(',', {joined}))"
    joined = " || ',' || ".join(f"{c}::VARCHAR" for c in cols)
    return f"md5({joined})"


def with_minhash(
    df: DataFrame, text_col: str = "text", fast: bool = False
) -> DataFrame:
    """doc_id + shingles + minhash signature + LSH band keys: ``sh``, then
    ``mh0..mh{MINHASH_K-1}``, then ``band0..band{LSH_BANDS-1}``, appended in
    that order.  The signature and the band keys are one ``withColumns``
    projection each (the bands read the ``mh*`` columns), so building the
    frame runs three plan analyses, not one per column."""
    df = df.withColumn("sh", F.expr(shingles_expr(text_col, "spark")))
    df = df.withColumns({
        f"mh{i}": F.expr(e)
        for i, e in enumerate(minhash_exprs("spark", fast=fast))
    })
    return df.withColumns({
        f"band{b}": F.expr(band_key_expr(b, "spark"))
        for b in range(LSH_BANDS)
    })


def minhash_duplicate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    fast: bool = False,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidate generation + exact-Jaccard verify.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    The signature stage is persisted: it feeds both the band join and the
    verification join, and Catalyst's project-collapse would otherwise
    recompute the (expensive) signature expressions per consumer.
    """
    sigs = with_minhash(
        df.select(F.col(id_col).cast("string").alias("doc_id"), text_col),
        fast=fast,
    ).select(
        "doc_id", "sh", *[f"band{b}" for b in range(LSH_BANDS)]
    )
    sigs = sigs.persist()

    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(LSH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.key")

    left = bands.alias("a")
    right = bands.alias("b")
    candidates = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # verification needs shingle arrays only for docs that appear in a
    # candidate pair — a tiny fraction of the corpus.  Pre-filter the
    # (heavy) shingle table with a broadcast semi-join on those ids
    # (guide-standard Bloom/semi-join pre-filter) so the verify joins
    # shuffle candidate docs' arrays instead of every document's.
    candidates = candidates.persist()
    pair_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = sigs.select("doc_id", "sh").join(
        F.broadcast(pair_ids), "doc_id", "left_semi"
    )
    verified = (
        candidates.join(sh.withColumnRenamed("doc_id", "doc_a")
                        .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sh", "sh_b"), "doc_b")
        # sh is array_distinct'd, so |A∪B| = |A|+|B|−|A∩B|: one hash-set
        # operation per pair, its size bound once via the
        # single-element-array lambda trick
        .withColumn(
            "jaccard",
            F.expr(
                "round(transform(array(size(array_intersect(sh_a, sh_b))), "
                "i -> CASE WHEN size(sh_a) + size(sh_b) - i = 0 THEN 0D "
                "ELSE CAST(i AS DOUBLE) / (size(sh_a) + size(sh_b) - i) "
                "END)[0], 6)"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (no hashing, no bands).

    Shingle sets are exploded to (shingle → doc) postings; candidate pairs
    are docs sharing ≥1 shingle; the intersection size is a distributed
    groupBy count (shingles are distinct per doc), sizes join back for
    |A∪B| = |A|+|B|−|A∩B|.  This is the oracle-grade exact measure — the
    posting self-join grows quadratically inside hot shingles, so at
    10^12 rows ``minhash_duplicate_pairs`` (banded LSH, same verify
    formula) is the scale path and this operator is for bounded slices /
    validation samples.

    ``max_shingle_df`` is the standard hot-shingle cap (prefix-filtering
    trick): shingles whose document frequency exceeds the cap are dropped
    from the postings BEFORE the self-join, removing the quadratic blowup
    inside boilerplate shingles.  Error bound: |A∪B| still uses the full
    shingle-set sizes, and dropping a shingle can only shrink the counted
    intersection, so the capped jaccard is a LOWER bound of the exact value
    — pairs can be missed (never spuriously added) and only when a true-pair
    intersection consists largely of corpus-hot (≥cap docs) shingles, which
    near-duplicate pairs by definition do not.  Default off (exact).
    """
    shs = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(shingles_expr(text_col, "spark")).alias("sh"),
    )
    sizes = shs.select("doc_id", F.size("sh").alias("n_sh"))
    # explode_outer + isNotNull: stops InferFiltersFromGenerate inlining
    # the shingle expression into pushed-down predicates (3x tokenize);
    # the isNotNull filter on the exploded ATTRIBUTE drops the null rows
    # outer emits for shingle-less docs, matching inner explode exactly
    posts = (
        shs.select("doc_id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    if max_shingle_df is not None:
        hot = (
            posts.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        # hot shingles are few by construction — broadcast anti-join
        posts = posts.join(F.broadcast(hot), "s", "left_anti")
    inter = (
        posts.alias("a")
        .join(posts.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "na")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "nb")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------------ simhash

SIMHASH_BITS = 60  # stay within positive int64


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens (token weight = occurrences).

    Array-expression formulation (no explode), LINEAR in tokens: the token
    hashes are bound ONCE per row, then each bit sums ±1 per occurrence —
    Σ_{occurrences} ±1 ≡ Σ_{distinct} count·(±1), without the
    per-distinct-token array rescans (which were O(60·distinct·n): a
    100k-token doc cost ~10^10 comparisons).

    Binding uses the single-element-array lambda trick rather than a
    chained select: a `hs` alias referenced once inside the per-bit lambda
    passes CollapseProject's used-once guard and gets INLINED — i.e. the
    whole tokenize+hash transform re-evaluated for each of the 60 bits
    (measured 15×: 17.9s → 1.2s over sf0.1 documents; same trap as
    fingerprint.winnow_fingerprints, where it was O(grams²)).
    """
    toks = tokens_expr(text_col, "spark")
    h = _hash64_spark("t")
    hs = f"transform({toks}, t -> {h})"
    bit_sums = (
        f"transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"aggregate(hs, 0L, (acc, v) -> acc + "
        f"(CASE WHEN (shiftright(v, b) & 1) = 1 THEN 1 ELSE -1 END)))"
    )
    sim = (
        f"aggregate(zip_with({bit_sums}, sequence(0, {SIMHASH_BITS - 1}), "
        f"(s, b) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        f"ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(f"transform(array({hs}), hs -> {sim})[0]").alias("simhash"),
    )


def simhash_expr_duck(text_col: str) -> str:
    """DuckDB twin of ``simhash`` (oracle use) — same linear form."""
    toks = tokens_expr(text_col, "duckdb")
    h = _hash64_duck("t")
    hs = f"list_transform({toks}, t -> {h})"
    bit_sums = (
        f"list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"list_sum(list_transform({hs}, v -> "
        f"CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)))"
    )
    return (
        f"CAST(list_sum(list_transform(list_zip({bit_sums}, "
        f"range(0, {SIMHASH_BITS})), z -> "
        f"CASE WHEN z[1] > 0 THEN (1::BIGINT << z[2]) ELSE 0::BIGINT END)) "
        f"AS BIGINT)"
    )


# ------------------------------------------------- duplicate clustering


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id).

    cluster_id = the smallest doc_id (string order for string ids) in the
    doc's component, for every doc that appears in at least one pair.

    Lineage is truncated once, at entry: the symmetric edge frame (plus one
    self-loop per doc) is built from ``pairs`` and eagerly
    ``localCheckpoint``-ed, so every round plans over a leaf instead of
    the caller's whole pair-generation plan.  The labels start at the
    first hop — each doc's smallest closed neighbour, one aggregate over
    that leaf.  Each round then

    * hops: m(v) = the smallest label in v's closed neighbourhood;
    * hooks: v and its label L(v) both take m(v), so a whole labelled tree
      joins a smaller neighbour at once (Shiloach–Vishkin / Liu–Tarjan
      parent-connect);
    * jumps pointers: L(v) ← L(L(v)).

    The round's labels and a per-doc change flag are one eager
    ``localCheckpoint``, and the convergence probe reads only that flag.
    Without the hook, hop + jump alone needs hundreds of rounds on a
    1024-doc chain whose ids are in random order; with it a component of
    n docs settles in O(log n) rounds — at most ⌈log2 n⌉, counting the
    round that finds no change, on chains, trees, cycles, grids and random
    graphs of up to 4096 docs in any id order (a pure-Python simulation of
    these rounds).  A pair, or any cluster whose smallest doc duplicates
    all the others, settles in the first round.

    Only the round loop and its probe run in Python; all data stays
    distributed (no collect).  The checkpoints are executor-local; on a
    cluster that loses executors, set ``spark.checkpoint.dir`` and use
    ``checkpoint()`` for replayability — both frames cover duplicate docs
    only.

    Raises RuntimeError when the labels have not converged after
    ``max_iterations`` rounds rather than silently returning split
    clusters.
    """
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = (
        pairs.select(F.inline(F.array(*[
            F.struct(x.alias("v"), y.alias("w"))
            for x, y in ((a, b), (b, a), (a, a), (b, b))
        ])))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.groupBy(F.col("v").alias("doc_id")).agg(
        F.min("w").alias("cluster_id")
    )
    for _ in range(max_iterations):
        # the self-loop row carries v's own label as prev
        hop = (
            edges.join(labels.withColumnRenamed("doc_id", "w"), "w")
            .groupBy("v")
            .agg(
                F.min("cluster_id").alias("m"),
                F.min(
                    F.when(F.col("v") == F.col("w"), F.col("cluster_id"))
                ).alias("prev"),
            )
        )
        # a hook row's prev is its target x = L(v) ≥ L(x), so the min
        # over x's rows keeps prev = L(x)
        hooked = (
            hop.select(F.inline(F.array(
                F.struct(F.col("v").alias("doc_id"), "m", "prev"),
                F.struct(F.col("prev").alias("doc_id"), "m", "prev"),
            )))
            .groupBy("doc_id")
            .agg(F.min("m").alias("cluster_id"), F.min("prev").alias("prev"))
        )
        p, q = hooked.alias("p"), hooked.alias("q")
        labels = (
            p.join(q, F.col("p.cluster_id") == F.col("q.doc_id"))
            .select(
                F.col("p.doc_id").alias("doc_id"),
                F.col("q.cluster_id").alias("cluster_id"),
                (F.col("q.cluster_id") != F.col("p.prev")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        if labels.filter("changed").isEmpty():
            return labels.select("doc_id", "cluster_id")
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iterations} "
        "iterations — raise max_iterations (a duplicate component larger "
        "than the budget allows exists)"
    )


def keep_cluster_representatives(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every near-duplicate except the cluster representative (the
    smallest id) — the distributed drop_duplicates(keep='first') analog."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -------------------------------------------------------------- exact dedup


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-hash groups (bytehash dedup, ref: download_dump_data.py:155-168).

    Returns (bytehash, n_docs, keep_doc_id): one row per distinct content,
    keeping the smallest doc_id — the distributed `drop_duplicates` analog.
    """
    return (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.sha2(F.col(text_col), 256).alias("bytehash"),
        )
        .groupBy("bytehash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )
