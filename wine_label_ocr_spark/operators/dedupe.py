"""Deduplication operators for web-scale corpora.

The reference dedups via exact keys then fuzzy similarity
(``scan_and_store.py:121-164``); at 10^12 documents that generalizes to:

* **exact** — hash-groupBy on canonicalized content (one shuffle on the
  content hash; map-side partial aggregation applies);
* **MinHash + LSH** — shingle → minhash signature → band → bucket join:
  the only pairs ever scored are bucket collisions, never O(n²);
* **SimHash** — 64-bit sign-aggregated token hashes, near-dup via
  hamming distance on bucketed prefixes;
* **n-gram Jaccard** — exact verification on candidate pairs;
* **embedding cosine** — see ``operators.ann`` (near-dup via vector space).

Everything below is native ``F.*`` column algebra (nested lambda
expressions; zero Python in the hot path). Hash functions come in two
flavors: ``xxhash64`` (fast path, Spark-only) and md5-derived bigints
(oracle path — bit-identical in DuckDB), selected by ``oracle_safe``.

Scale notes: signatures are fixed-width arrays (p ≈ 64 minhashes ≈ 512
bytes/doc); the LSH explode multiplies rows by n_bands (8-16), all of it
shuffled once on (band_idx, band_hash). Hot buckets (boilerplate dups)
are bounded by ``max_bucket`` to keep the pair join from exploding on
skew — the explicit skew handling the north rule asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.functions import pandas_udf

from .textops import tokens_col


def _hash64(col: Column, seed: int, oracle_safe: bool) -> Column:
    if oracle_safe:
        # first 15 hex chars of md5 → bigint (reproducible in DuckDB)
        return F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 15),
                      16, 10).cast("bigint")
    return F.xxhash64(col, F.lit(seed))


def content_key(text: Column) -> Column:
    """Exact-dedup key: md5 of whitespace-canonicalized text.

    Stays an expression DELIBERATELY (r10): an Arrow kernel twin
    (hashlib md5 + the Java-``\\s`` regex) was built, pinned
    value-identical, and MEASURED SLOWER — 1.13 s → 1.47 s at sf1.0 —
    because shipping the full text column across the Python boundary
    costs more than the JVM ``regexp_replace`` it saves (the key is the
    only consumer of ``text`` here, so unlike the fingerprint/band
    kernels there is no amortizing batch of per-token work)."""
    return F.md5(F.trim(F.regexp_replace(text, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per content key (deterministic: min id wins).

    One shuffle on the 128-bit content hash; ``min_by`` carries the whole
    winning row through the aggregation, so the former shape — aggregate
    the keys, then a second scan + semi join back — collapses to a single
    scan with map-side partial aggregation (guide §2.4: one Exchange, no
    join). NULL keys (NULL text) and NULL ``id_col`` rows can never
    survive the old null-rejecting semi join, so they are filtered here —
    identical output, pinned by tests/test_r10_optimizations.py.
    """
    key = content_key(F.col(text_col)).alias("_ck")
    w = df.select("*", key).filter(F.col("_ck").isNotNull())
    winner = (w.groupBy("_ck")
              .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_row"))
              .select("_row.*"))
    return winner.filter(F.col(id_col).isNotNull())


def exact_dedup_ids(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Surviving ids only — ``exact_dedup(df).select(id_col)`` without
    carrying the payload: the shuffle holds (content_key, partial-min id)
    pairs instead of whole rows (guide §2.3 "shuffle keys instead of
    payloads"). Same id set by construction (min id per non-null key;
    NULL keys/ids never survive either form)."""
    key = content_key(F.col(text_col)).alias("_ck")
    return (df.select(F.col(id_col), key)
            .filter(F.col("_ck").isNotNull() & F.col(id_col).isNotNull())
            .groupBy("_ck").agg(F.min(id_col).alias(id_col))
            .select(id_col))


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams (array<string>)."""
    toks = tokens_col(text)
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    ))).otherwise(F.array(F.array_join(toks, " ")))


_LONG_MAX = 9223372036854775807


def minhash_signature(sh: Column, n_perm: int = 32,
                      oracle_safe: bool = False) -> Column:
    """array<bigint> of length n_perm: min over shingles per hash seed.

    Evaluation shape matters here: the naive "n_perm transforms over the
    shingle array" recomputes the (inlined) shingle expression once per
    permutation after CollapseProject — measured 8× slower. This form
    folds ONCE over the shingles, minimizing element-wise against an
    n_perm-wide accumulator; the shingle expression is referenced exactly
    once. Same values, one pass.
    """
    def hashes(s: Column) -> Column:
        # s is a lambda variable — already computed, cheap to reference
        return F.array(*[_hash64(s, p, oracle_safe) for p in range(n_perm)])

    return F.aggregate(
        sh,
        F.array_repeat(F.lit(_LONG_MAX).cast("long"), n_perm),
        lambda acc, s: F.zip_with(acc, hashes(s), lambda x, y: F.least(x, y)))


def lsh_bands(sig: Column, n_bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, band_hash:string>> — md5 over each band slice.

    ``sig`` is let-bound so the signature evaluates once, not per band.
    """
    from ..functions import let

    def bands_of(s: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(F.array_join(
                    F.transform(F.slice(s, b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string")), ",")).alias("band_hash")))

    return let(sig, bands_of)


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact n-gram Jaccard on distinct shingle arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter / F.greatest(union, F.lit(1))


def _minhash_bands_kernel(k: int, n_perm: int, n_bands: int):
    """Batch kernel: text → LSH band-hash array, xxhash64 flavor.

    Replicates the expression chain exactly: Java-``\\s`` tokens, k-gram
    shingles ("<k tokens → one whole-join shingle"; duplicates need no
    dedup — ``min`` is idempotent), per-permutation signed min of
    ``xxhash64(shingle, lit(p))`` (string hash seed 42 chained into
    hashInt of the IntegerType literal), then per-band
    ``md5(",".join(signed signature slice))``.

    NULL text → the expression's shingle array is ``[NULL]`` and
    ``xxhash64`` skips null inputs, leaving ``hashInt(p, 42)`` — the
    kernel reproduces that too.
    """
    import re
    from hashlib import md5

    import numpy as np

    from ..functions.xxh64 import _SPARK_SEED, spark_xxhash64_str, xxh64_int

    split = re.compile(r"[ \t\n\x0b\f\r]+").split
    rpb = n_perm // n_bands
    null_sig = np.array(
        [np.int64(np.uint64(xxh64_int(p, _SPARK_SEED)))
         for p in range(n_perm)], dtype=np.int64)

    def kernel(texts):
        import pandas as pd

        shingles_flat: list[str] = []
        starts = []
        kinds = []  # 0 = normal doc, 1 = null text
        for t in texts:
            starts.append(len(shingles_flat))
            if t is None:
                kinds.append(1)
                continue
            kinds.append(0)
            toks = [tok for tok in split(t) if tok]
            if len(toks) >= k:
                shingles_flat.extend(
                    " ".join(toks[i:i + k])
                    for i in range(len(toks) - k + 1))
            else:
                shingles_flat.append(" ".join(toks))
        n = len(texts)
        sigs = np.empty((n, n_perm), dtype=np.int64)
        kinds_arr = np.asarray(kinds)
        valid = np.nonzero(kinds_arr == 0)[0]
        if len(valid):
            # every non-null doc has ≥ 1 shingle (empty text → [""]), so
            # the valid docs' segments tile the flat array with no empty
            # segment — reduceat is safe on their start offsets
            h0 = spark_xxhash64_str(shingles_flat)
            s_valid = np.asarray(starts)[valid]
            for p in range(n_perm):
                hp = xxh64_int(p, h0).view(np.int64)
                sigs[valid, p] = np.minimum.reduceat(hp, s_valid)
        sigs[kinds_arr == 1] = null_sig
        out = []
        for i in range(n):
            row = sigs[i]
            out.append([
                md5(",".join(str(int(v))
                             for v in row[b * rpb:(b + 1) * rpb])
                    .encode()).hexdigest()
                for b in range(n_bands)])
        return pd.Series(out)

    return kernel


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      n_perm: int = 32, n_bands: int = 8,
                      min_jaccard: float = 0.6,
                      oracle_safe: bool = False,
                      max_bucket: int = 200) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH, verified by exact Jaccard.

    Plan shape: project signature (pure map) → explode bands (×n_bands)
    → shuffle once on (band, band_hash) → oversized buckets dropped
    (boilerplate skew guard) → self-join within bucket → distinct pairs →
    exact Jaccard verify on the shingle arrays.
    """
    rows_per_band = n_perm // n_bands
    # Bands carry ONLY (id, band, band_hash) through the shuffle — the wide
    # shingle arrays stay out of the explode/join entirely (a ~n_bands×
    # shuffle-volume cut).
    if oracle_safe:
        base = df.select(
            F.col(id_col).alias("_id"),
            shingles(F.col(text_col), k).alias("_sh"))
        buck = base.select(
            "_id",
            F.explode(lsh_bands(minhash_signature(F.col("_sh"), n_perm,
                                                  oracle_safe),
                                n_bands, rows_per_band)).alias("_b"),
        ).select("_id", F.col("_b.band").alias("band"),
                 F.col("_b.band_hash").alias("band_hash"))
    else:
        # r10: the xxhash64 production flavor computes shingle → signature
        # → band hashes in ONE vectorized Arrow kernel. The interpreted
        # higher-order lambda chain (slice/join per shingle position ×
        # n_perm hashes per shingle) measured ~2 ms/doc at sf1.0; the
        # kernel's bucketed numpy XXH64 (functions.xxh64 — bit-exact vs
        # F.xxhash64, pinned by tests/test_xxh64.py) brings the same
        # band hashes out in ~50 µs/doc. Values pinned identical by
        # tests/test_r10_optimizations.py::test_minhash_kernel_bands.
        # asNondeterministic: posexplode's implicit `size(..) > 0` filter
        # otherwise gets pushed below the repartition and the optimizer
        # DUPLICATES the kernel — two ArrowEvalPython nodes, every doc
        # hashed twice (guide §4.4; seen in plans/r10/minhash_lsh). The
        # kernel is pure; the flag only pins its single evaluation point.
        bands_udf = pandas_udf(
            _minhash_bands_kernel(k, n_perm, n_bands),
            "array<string>").asNondeterministic()
        buck = df.select(
            F.col(id_col).alias("_id"),
            bands_udf(F.col(text_col)).alias("_bh"),
        ).select("_id", F.posexplode("_bh").alias("band", "band_hash"))
    # Pair generation as ONE aggregation: group each (band, band_hash)
    # bucket, drop oversized buckets (the same skew guard the former
    # window count applied), and emit every a<b pair from the sorted id
    # array. The former shape — window count (exchange + sort) feeding a
    # bucket self-join (two more exchanges) — becomes a single exchange
    # on the bucket key with no join (guide §2.4); the candidate set is
    # identical: all unordered id pairs sharing a surviving bucket.
    ids = F.array_sort(F.collect_list("_id")).alias("_ids")
    grouped = (buck.groupBy("band", "band_hash").agg(ids)
               .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket)))
    pair_structs = F.flatten(F.transform(
        F.col("_ids"),
        lambda x, i: F.transform(
            F.slice(F.col("_ids"), i + 2,
                    F.greatest(F.size("_ids") - (i + 1), F.lit(0))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    pairs = (grouped.select(F.explode(pair_structs).alias("_p"))
             .select(F.col("_p.id_a").alias("id_a"),
                     F.col("_p.id_b").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    # Verify: re-derive shingles ONLY for rows that appear in a candidate
    # pair. Joining back on the text column (broadcast-small pairs side)
    # beats joining the precomputed `base` twice — that shape recomputed
    # and shuffled the full corpus's shingle arrays 2× (measured ~40% of
    # the operator at sf0.1); pairs ≪ corpus is the LSH invariant.
    # The broadcast hints pin the PAIR-sized side as the build side: the
    # planner's static estimate for the aggregate output is unknown, so
    # it was broadcasting the CORPUS text table instead (guide §3.1 —
    # estimates after aggregates are badly wrong) — wrong at any scale
    # and measured 3× slower at sf1.0 from per-run corpus broadcasts.
    txt_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    txt_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    half = txt_a.join(F.broadcast(pairs), "id_a")  # ≤ |pairs| rows out
    return (txt_b.join(F.broadcast(half), "id_b")
            .withColumn("jaccard", F.round(
                jaccard(shingles(F.col("_ta"), k), shingles(F.col("_tb"), k)), 6))
            .filter(F.col("jaccard") >= min_jaccard)
            .select("id_a", "id_b", "jaccard"))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 50) -> DataFrame:
    """Near-dup pairs → components via min-label propagation.

    The step a real dedup pipeline needs after pair generation: group
    transitively-linked documents so exactly one survivor per CLUSTER can
    be kept (pairwise keep-one under-deletes chains A~B~C). Iterative: each
    round every node takes the min label among itself and its neighbors;
    converges in O(graph diameter) rounds. Per-round ``localCheckpoint``
    truncates lineage (an un-checkpointed loop re-executes the whole
    history each round and the plan grows without bound); the driver-side
    loop is over ROUNDS (a dozen), never over rows.

    Returns (doc_id, component) for every id appearing in ``pairs``;
    component = min doc_id of the cluster.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    changed = 0
    # max_iters productive rounds + 1 extra verification round: a graph
    # whose propagation needs exactly max_iters rounds is CONVERGED after
    # them, but detecting that takes one more (changed == 0) pass.
    for _ in range(max_iters + 1):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .groupBy("src").agg(F.min("label").alias("nlabel")))
        stepped = (labels.join(neigh, labels.id == neigh.src, "left")
                   .select(labels.id,
                           F.col("label").alias("_old"),
                           F.least(F.col("label"),
                                   F.coalesce("nlabel", F.col("label")))
                           .alias("label")))
        stepped = stepped.localCheckpoint(eager=True)
        changed = stepped.filter(F.col("label") != F.col("_old")).count()
        labels = stepped.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        # a chain longer than max_iters hops would return silently SPLIT
        # components and dedup_keep_one would then under-delete — fail loud.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — rounds "
            "needed is O(graph diameter)")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component"))


def drop_common_paragraphs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", min_docs: int = 2,
                           sep: str = "\n") -> DataFrame:
    """CCNet-style paragraph-level boilerplate removal: a paragraph whose
    (trimmed) text appears in ≥ ``min_docs`` DISTINCT documents is
    boilerplate (cookie banners, nav footers, "subscribe" blocks) and is
    stripped from every document; each document is rebuilt from its kept
    paragraphs in original order.

    Plan: posexplode(split) → md5 paragraph key → distinct-doc count per
    key (one shuffle, map-side partials) → the boilerplate KEY set is the
    ≥min_docs tail, which is small by construction (it's the frequent
    head of the distribution) → broadcast anti join → regroup by doc
    (second shuffle). Returns every input doc: (id, clean_text,
    n_paragraphs_kept) — a fully-boilerplate doc comes back with empty
    text and 0 kept, so downstream length filters drop it explicitly.
    """
    import re as _re
    paras = df.select(
        F.col(id_col).alias("_id"),
        # sep is a LITERAL separator — escape it, F.split takes a regex
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
        .alias("_pos", "_p"))
    paras = (paras.withColumn("_p", F.trim("_p"))
             .filter(F.col("_p") != ""))
    keyed = paras.withColumn("_k", F.md5(F.col("_p")))
    boiler = (keyed.groupBy("_k")
              .agg(F.count_distinct("_id").alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_k"))
    kept = keyed.join(F.broadcast(boiler), "_k", "left_anti")
    rebuilt = (kept.groupBy("_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("_pos", "_p"))),
                            lambda s: s["_p"]),
                        sep).alias("clean_text"),
                    F.count(F.lit(1)).alias("n_paragraphs_kept")))
    base = df.select(F.col(id_col).alias("_id"))
    return (base.join(rebuilt, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_paragraphs_kept", F.lit(0))
                    .cast("bigint").alias("n_paragraphs_kept")))


def flag_contaminated(df: DataFrame, benchmark: DataFrame, n: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      b_text: str = "text") -> DataFrame:
    """Benchmark decontamination (GPT-3/Lee-style n-gram overlap): flag
    every document sharing at least one word n-gram with the benchmark
    set, reporting the count of distinct shared n-grams.

    Plan: benchmark → distinct n-grams (tiny by definition — eval sets
    are ≪ corpus — so it BROADCASTS; the corpus side is a pure map +
    explode, never shuffled against itself); per-doc hit counts come from
    one groupBy on doc id. At 10^12 docs this is the only shape that
    works: the corpus is touched once and nothing corpus-sized shuffles.
    """
    bgrams = (benchmark.select(F.explode(shingles(F.col(b_text), n)).alias("_g"))
              .distinct())
    dgrams = df.select(F.col(id_col).alias("_id"),
                       F.explode(shingles(F.col(text_col), n)).alias("_g"))
    # shingles() yields DISTINCT grams per doc, so join rows = distinct
    # shared grams; count(*) after the join is the overlap cardinality.
    hits = (dgrams.join(F.broadcast(bgrams), "_g")
            .groupBy("_id").agg(F.count(F.lit(1)).alias("_nh")))
    return (df.select(F.col(id_col).alias("_id"))
            .join(hits, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_nh", F.lit(0)).cast("bigint")
                    .alias("contaminated_ngrams"),
                    (F.coalesce("_nh", F.lit(0)) > 0).alias("contaminated")))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4,
                        oracle_safe: bool = False) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token k-gram, slide a
    window of ``window`` consecutive hashes, select the minimum of each
    window (RIGHTMOST on ties). Guarantee: any duplicated token run of
    length ≥ window + k − 1 produces at least one IDENTICAL selected
    fingerprint in both copies regardless of phase — the content-defined
    anchoring that fixed-stride chunk hashing lacks.

    Pure map (zero shuffle): grams, windows, and the per-window argmin
    are all column algebra; cost O(n·window) per doc. Returns one row per
    selected (doc, pos, fp) — per-doc duplicates removed in the array
    (overlapping windows reselect the same gram), no shuffle needed.
    """
    from ..functions import let

    toks = tokens_col(F.col(text_col))

    def fps_of(t: Column) -> Column:
        n = F.size(t)
        # beware: F.sequence(1, g) with g <= 0 DESCENDS (default step -1),
        # so gram construction must be gated on n >= k first; docs shorter
        # than k tokens contribute one whole-text gram (shingles semantics)
        grams = F.when(n >= k, F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: _hash64(F.array_join(F.slice(t, i, k), " "),
                              0, oracle_safe))) \
            .otherwise(F.when(n >= 1, F.array(
                _hash64(F.array_join(t, " "), 0, oracle_safe)))
                .otherwise(F.array().cast("array<bigint>")))

        def rightmost_min(h: Column, j: Column, width: Column) -> Column:
            # min over struct(hash, -pos) = rightmost minimum of the window
            return let(
                F.array_min(F.transform(
                    F.sequence(j, j + width - 1),
                    lambda p: F.struct(F.get(h, p - 1).alias("fp"),
                                       (-p).alias("negpos")))),
                lambda m: F.struct(m["fp"].alias("fp"),
                                   (-m["negpos"]).alias("pos")))

        def sel_of(h: Column) -> Column:
            g = F.size(h)
            return F.when(g >= window, F.transform(
                F.sequence(F.lit(1), g - F.lit(window - 1)),
                lambda j: rightmost_min(h, j, F.lit(window)))) \
                .otherwise(F.when(g >= 1, F.array(
                    rightmost_min(h, F.lit(1), g)))
                    .otherwise(F.array().cast(
                        "array<struct<fp:bigint,pos:int>>")))

        return let(grams, sel_of)

    sel = df.select(F.col(id_col).alias(id_col),
                    F.explode(F.array_distinct(let(toks, fps_of))).alias("_s"))
    return sel.select(id_col, F.col("_s.pos").alias("pos"),
                      F.col("_s.fp").alias("fp"))


def duplicate_passages(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 5, window: int = 4,
                       min_shared: int = 2, max_bucket: int = 200,
                       oracle_safe: bool = False) -> DataFrame:
    """Passage-level near-dup pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints — catches COPIED SPANS inside otherwise
    different documents (syndicated paragraphs, quoted chunks), which
    whole-document MinHash misses when the rest of the text diverges.

    One shuffle on fp (with the standard ``max_bucket`` hot-fingerprint
    guard — a boilerplate fp shared by m docs would cost m²), pair join
    inside fp buckets, per-pair shared-fp count.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, window, oracle_safe) \
        .select(F.col(id_col).alias("_id"), "fp").distinct()
    sized = fps.withColumn("_bn", F.count("*").over(W.partitionBy("fp")))
    fps = sized.filter(F.col("_bn") <= max_bucket).drop("_bn")
    a, b = fps.alias("a"), fps.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def dedup_keep_one(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster-aware dedup: keep the min-id document of every near-dup
    component, plus every document in no component at all."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")) \
                 .select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def exact_substring_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", min_tokens: int = 50,
                          oracle_safe: bool = False) -> DataFrame:
    """Exact-substring duplicate detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape, in
    token space): every run of >= ``min_tokens`` whitespace tokens that
    occurs at two or more positions corpus-wide is reported as a merged
    per-document span ``(doc_id, start, end)`` (token indices, 1-based,
    end exclusive). Runs that start mid-token are caught at the next
    token boundary — the documented approximation of byte-level suffix
    arrays, which Lee et al. themselves apply in (BPE) token space.

    Scale shape — no suffix array, no global sort:

    1. seed grams: each doc emits (pos, hash(T-token window)) for every
       window — a pure map; the shuffle key is the 64-bit hash, never
       the gram text (~8 bytes/position instead of ~6·T);
    2. duplicated-hash candidates: one narrow groupBy(hash) with
       map-side partial counts, keep count >= 2;
    3. verify: the gram TEXT is re-derived only for candidate positions
       (duplicated text is a small fraction of a crawl) and grouped by
       the full gram — 64-bit collisions cannot produce false spans, so
       the result is exact at any corpus size;
    4. per-doc interval merge of surviving seed windows [pos, pos+T) —
       an in-row fold after one doc-keyed regroup of bare positions.

    Feed the spans to ``remove_duplicate_spans`` to cut them out.
    """
    T = int(min_tokens)
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))

    def gram_at(t: Column, i: Column) -> Column:
        return F.array_join(F.slice(t, i, T), " ")

    nt = F.size(tokens_col(F.col("_t")))
    pos_df = (base.select(
        "_id", "_t",
        F.explode(F.when(nt >= T, F.sequence(F.lit(1), nt - F.lit(T - 1)))
                  .otherwise(F.array().cast("array<int>"))).alias("pos"))
        .select("_id", "pos",
                _hash64(gram_at(tokens_col(F.col("_t")), F.col("pos")), 0,
                        oracle_safe).alias("ghash")))
    cand_hashes = (pos_df.groupBy("ghash").agg(F.count(F.lit(1)).alias("c"))
                   .filter(F.col("c") >= 2).select("ghash"))
    cand = pos_df.join(cand_hashes, "ghash", "left_semi")
    cand_txt = (cand.join(base, "_id")
                .select("_id", "pos",
                        gram_at(tokens_col(F.col("_t")), F.col("pos"))
                        .alias("gram")))
    seeds = (cand_txt.withColumn(
                "_c2", F.count(F.lit(1)).over(W.partitionBy("gram")))
             .filter(F.col("_c2") >= 2).select("_id", "pos"))

    def merge(ps: Column) -> Column:
        empty = F.array().cast("array<struct<start:int,end:int>>")
        return F.aggregate(
            ps, empty,
            lambda acc, p: F.when(
                (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["end"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        F.greatest(F.element_at(acc, -1)["end"],
                                   p + T).cast("int").alias("end"))))
            ).otherwise(F.concat(acc, F.array(F.struct(
                p.cast("int").alias("start"),
                (p + T).cast("int").alias("end"))))))

    return (seeds.groupBy("_id")
            .agg(F.array_sort(F.collect_list("pos")).alias("_ps"))
            .select(F.col("_id").alias(id_col),
                    F.explode(merge(F.col("_ps"))).alias("_s"))
            .select(id_col, F.col("_s.start").alias("start"),
                    F.col("_s.end").alias("end")))


def remove_duplicate_spans(df: DataFrame, spans: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Cut the spans reported by ``exact_substring_spans`` out of each
    document: tokens whose (1-based) index falls inside any span are
    dropped, the rest are rejoined by single spaces. Documents with no
    span pass through with whitespace-normalized text (same token
    sequence). One doc-keyed join; the cut itself is in-row."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start", "end")).alias("_spans"))
    joined = df.join(sp, id_col, "left")
    toks = tokens_col(F.col(text_col))
    kept = F.filter(
        F.zip_with(toks, F.sequence(F.lit(1), F.size(toks)),
                   lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda e: ~F.coalesce(
            F.exists(F.col("_spans"),
                     lambda s: (e["i"] >= s["start"]) & (e["i"] < s["end"])),
            F.lit(False)))
    out_text = F.when(F.size(toks) > 0,
                      F.array_join(F.transform(kept, lambda e: e["t"]), " ")) \
                .otherwise(F.col(text_col))
    return joined.withColumn(text_col, out_text).drop("_spans")


def snapshot_fingerprints(df: DataFrame, text_col: str = "text",
                          k: int = 3, n_perm: int = 32, n_bands: int = 8,
                          oracle_safe: bool = False) -> DataFrame:
    """Fingerprint store for crawl-over-crawl dedup: ``(kind, fp)`` rows
    where kind ``'exact'`` carries the content key and ``'band:<i>'`` the
    MinHash LSH band hash of band i.

    The store is intentionally ID-FREE — membership of a fingerprint is
    all the next crawl ever asks; carrying doc ids would only bloat it.
    Written once per snapshot (a few dozen bytes per doc — NOT the text:
    by the time the next crawl lands, the prior crawl's pages may be
    archived away), then equi-joined against by the next snapshot's
    ingest (``incremental_dedup``). ``distinct()`` is one narrow shuffle
    on the fp itself; at 10^12 docs the store is written partitioned by
    ``kind`` so each anti-join below prunes to its own slice.
    """
    rpb = n_perm // n_bands
    exact = df.select(F.lit("exact").alias("kind"),
                      content_key(F.col(text_col)).alias("fp"))
    bands = (df.select(F.explode(lsh_bands(
                minhash_signature(shingles(F.col(text_col), k),
                                  n_perm, oracle_safe),
                n_bands, rpb)).alias("_b"))
             .select(F.concat(F.lit("band:"),
                              F.col("_b.band").cast("string")).alias("kind"),
                     F.col("_b.band_hash").alias("fp")))
    return exact.unionByName(bands).distinct()


def incremental_dedup(new_docs: DataFrame, prior_fps: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 3, n_perm: int = 32, n_bands: int = 8,
                      oracle_safe: bool = False) -> DataFrame:
    """Crawl-over-crawl dedup: keep only documents of ``new_docs`` that
    are genuinely new versus the prior snapshot's fingerprint store —
    no exact content-key match AND no shared MinHash band (the standard
    LSH candidate test; recall is governed by the same n_perm/n_bands
    knobs as ``minhash_lsh_pairs``). There is no Jaccard verify step
    against prior text by design: the store holds fingerprints only, so
    a band collision is treated as a duplicate (conservative for a
    training corpus — prefer dropping a borrowed page over keeping a
    near-copy).

    Scale shape: two narrow equi-joins on hash keys — content keys
    left-anti against the ``'exact'`` slice, then band hashes left-semi
    against the band slice to collect duplicate ids, anti-joined back.
    No broadcast assumption anywhere: at 10^12 docs the store is itself
    corpus-sized, and every join here shuffles only (id, hash) pairs.
    """
    rpb = n_perm // n_bands
    exact_fps = prior_fps.filter(F.col("kind") == "exact").select("fp")
    keyed = new_docs.withColumn("_ck", content_key(F.col(text_col)))
    fresh = keyed.join(exact_fps, keyed["_ck"] == exact_fps["fp"],
                       "left_anti").drop("_ck")

    band_fps = prior_fps.filter(F.col("kind") != "exact") \
                        .select("kind", "fp")
    new_bands = (fresh.select(
        F.col(id_col).alias("_id"),
        F.explode(lsh_bands(
            minhash_signature(shingles(F.col(text_col), k), n_perm,
                              oracle_safe),
            n_bands, rpb)).alias("_b"))
        .select("_id",
                F.concat(F.lit("band:"),
                         F.col("_b.band").cast("string")).alias("kind"),
                F.col("_b.band_hash").alias("fp")))
    dup_ids = (new_bands.join(band_fps, ["kind", "fp"], "left_semi")
               .select(F.col("_id").alias(id_col)).distinct())
    return fresh.join(dup_ids, id_col, "left_anti")


def _simhash64_kernel(texts):
    """Batch SimHash (xxhash64 flavor) — bit-identical to the expression
    form below, computed vectorized: one bucketed XXH64 pass over every
    token of the batch, bit-unpack to [T,64], per-doc prefix-sum
    difference for the ±1 bit votes, pack the sign bits back to int64.
    Tokens are the Java-``\\s`` runs the expression's split produces.
    """
    import re

    import numpy as np
    import pandas as pd

    from ..functions.xxh64 import spark_xxhash64_str

    split = re.compile(r"[ \t\n\x0b\f\r]+").split
    toks_all: list[str] = []
    starts = []
    null_mask = []
    for t in texts:
        null_mask.append(t is None)
        starts.append(len(toks_all))
        if t is not None:
            toks_all.extend(tok for tok in split(t) if tok)
    starts.append(len(toks_all))
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if toks_all:
        h = spark_xxhash64_str(toks_all, extra_int_seed=0)
        bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little").astype(np.int32)
        csum = np.vstack([np.zeros((1, 64), dtype=np.int64),
                          np.cumsum(bits, axis=0, dtype=np.int64)])
        s = np.asarray(starts)
        cnt_set = csum[s[1:]] - csum[s[:-1]]          # [n, 64] set-bit counts
        n_tok = (s[1:] - s[:-1]).reshape(-1, 1)
        pos = (2 * cnt_set) > n_tok                   # sum of ±1 votes > 0
        out = np.packbits(pos, axis=1,
                          bitorder="little").view("<u8").ravel().view(np.int64)
    res = pd.array(out, dtype="Int64")
    res[np.asarray(null_mask, dtype=bool)] = None
    return pd.Series(res)


def simhash64(text: Column, oracle_safe: bool = False) -> Column:
    """64-bit SimHash over whitespace tokens.

    Per token: 64-bit hash; per bit: +1 if set else -1; sum over tokens;
    simhash bit j = 1 iff sum_j > 0.

    ``oracle_safe=True`` (the DuckDB-parity md5 flavor) keeps the
    expression form: one ``aggregate`` with a ``zip_with`` accumulator.
    The xxhash64 production flavor goes through a vectorized Arrow batch
    kernel instead (r10): the interpreted higher-order lambdas cost
    ~0.3 µs per element-op — ×64 bits × tokens per doc they dominated the
    map — while the kernel's bucketed numpy XXH64
    (``functions.xxh64``, bit-exact vs ``F.xxhash64``, pinned by
    tests/test_xxh64.py) and bit-matrix vote runs the whole batch in C.
    Same values — pinned by tests/test_r10_optimizations.py.
    """
    from ..functions import let

    if not oracle_safe:
        kern = pandas_udf(_simhash64_kernel, "long")
        return kern(text)

    toks = tokens_col(text)
    # hash each token ONCE (transform), then fan out to 64 bits from the
    # lambda variable — referencing a lambda var is free, re-evaluating an
    # inlined hash expression 64× is not (see functions.let docstring)
    hashes = F.transform(toks, lambda t: _hash64(t, 0, oracle_safe))

    def bits_of(h: Column) -> Column:
        # shift amounts must be python ints → unroll the 64 bits
        return F.array(*[
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            for j in range(64)])

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda x, y: x + y))
    bit_vals = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]
    pow2 = F.array(*[F.lit(v).cast("long") for v in bit_vals])

    def fold(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(c, pow2,
                       lambda cnt, v: F.when(cnt > 0, v)
                       .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda a, b: a.bitwiseOR(b))

    return let(counts, fold)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(sh: Column, n_bands: int) -> Column:
    """array<struct<band:int, bits:bigint>> — disjoint bit-slices of the
    64-bit simhash. Widths differ by at most one (64 = Σ widths)."""
    base, rem = divmod(64, n_bands)
    out, start = [], 0
    for j in range(n_bands):
        w = base + (1 if j < rem else 0)
        mask = (1 << w) - 1
        out.append(F.struct(
            F.lit(j).alias("band"),
            F.shiftrightunsigned(sh, start).bitwiseAND(F.lit(mask)).alias("bits")))
        start += w
    return F.array(*out)


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 8,
                  n_bands: int | None = None,
                  max_bucket: int = 2000,
                  oracle_safe: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash with a pigeonhole recall guarantee.

    The 64 bits split into ``n_bands`` disjoint bands (default
    ``max_hamming + 1``): a pair within hamming ≤ max_hamming differs in at
    most max_hamming bands, so it MUST collide exactly on at least one —
    full recall, unlike the r1 single-prefix probe that missed pairs
    differing in the top bits. Candidates come from band-bucket collisions
    (one shuffle on (band, bits)); exact hamming verifies. Oversized
    buckets are dropped like minhash's skew guard (cost bound; recall caveat
    applies only to docs inside a dropped bucket).
    """
    n_bands = n_bands if n_bands is not None else max_hamming + 1
    if n_bands > 64:
        raise ValueError("n_bands must be <= 64")
    s = df.select(F.col(id_col).alias("_id"),
                  simhash64(F.col(text_col), oracle_safe).alias("_sh"))
    buck = s.select(
        "_id", "_sh",
        F.explode(simhash_bands(F.col("_sh"), n_bands)).alias("_b"),
    ).select("_id", "_sh", F.col("_b.band").alias("band"),
             F.col("_b.bits").alias("bits"))
    sized = buck.withColumn(
        "_bn", F.count("*").over(W.partitionBy("band", "bits")))
    buck = sized.filter(F.col("_bn") <= max_bucket).drop("_bn")
    a, b = buck.alias("a"), buck.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bits") == F.col("b.bits"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                    hamming64(F.col("a._sh"), F.col("b._sh")).alias("hamming"))
            .dropDuplicates(["id_a", "id_b"])
            .filter(F.col("hamming") <= max_hamming))
