"""Deduplication operators — exact and near-duplicate (engine extension,
SURVEY.md §2.3 E1; not present in the reference, which delegates all
relational work to the host engine).

Algorithms are the published classics: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997) with
LSH banding (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3),
SimHash (Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002; applied to web dedup in Manku et al., WWW 2007),
and min-label-propagation connected components (the "hash-to-min" family;
see Kiveris et al., "Connected components in MapReduce and beyond",
SoCC 2014 for the large-star/small-star variant noted below).

All hot paths are built-in Spark SQL functions (JVM, codegen) — no Python
UDFs.  Scale posture for 100 TB:

- exact dedup is one hash-shuffle on the dedup key; with AQE skew handling
  on (session default) a hot text value cannot strand a task;
- candidate generation for every near-dup flavor is ONE aggregation shuffle
  (``groupBy(bucket).collect_set(id)`` + in-array pair expansion), not a
  count+filter+join+self-join chain — measured 4× on the bench corpus and
  strictly fewer shuffles at scale;
- bucket-size caps (``max_doc_freq`` / ``max_bucket``) bound the pair
  expansion: a degenerate bucket of d docs would otherwise emit d²/2
  candidates;
- the shingle-set table is cached (``cache_scope``) or checkpointed
  inside the near-dup operators: it is consumed 2-3 times (candidates +
  both sides of verification), and Catalyst otherwise re-inlines the
  tokenizer expression into every reference (measured 8× slowdown; see
  ``shingles_from_tokens`` note).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope

_MERSENNE = 2147483647  # 2^31-1; keeps (a*h+b) products inside long range


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens (shared with the text operators)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def shingles_from_tokens(toks: Column, k: int = 4) -> Column:
    """Distinct word k-grams from a *materialized* token-array column;
    documents shorter than k words contribute one whole-document shingle.

    IMPORTANT (measured 8×): ``toks`` must be a projected column, not the
    tokenizer expression — Catalyst inlines a duplicated split/filter
    expression into every reference, re-running the regex per use (and per
    higher-order-function element)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= k, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def word_shingles(col: Column | str, k: int = 4) -> Column:
    """Single-expression form — prefer :func:`shingle_sets` in pipelines."""
    return shingles_from_tokens(tokens(col), k)


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-grams over the whitespace-normalized text —
    the classic MinHash input for short/noisy documents where word
    shingles are too sparse."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(c), "\\s+", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: F.substring(norm, i, k),
    )
    return F.array_distinct(grams)


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    scale: bool = True,
) -> DataFrame:
    """``(id, sh array<string>)``.  Multi-consumer pipelines (candidates
    + verification) cache or checkpoint it — one tokenizer pass total.

    Round 14: the input is scale_out-rescaled first — the tokenizer,
    the shingle transform AND every downstream per-row aggregate over
    ``sh`` (the in-array MinHash permutations, Jaccard verifies)
    inherit this partitioning, and a small corpus is one scan split.
    No-op at >= cores input partitions.  ``scale=False`` opts out for
    consumers whose pipeline immediately reshuffles (explode → join →
    groupBy) and saw no win in the interleaved A/B
    (:func:`prefix_filter_pairs`)."""
    from h2h_spark.operators import scale_out

    src = df.select(F.col(id_col), F.col(text_col))
    if scale:
        src = scale_out(src, id_col)
    return src.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    ).select("id", shingles_from_tokens(F.col("__toks"), k).alias("sh"))


def _pair_expansion(ids: Column) -> Column:
    """All ordered pairs (a < b) from a sorted id array — candidate pairs of
    one bucket, expanded without a self-join."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids)),
                lambda y: F.struct(
                    F.element_at(ids, i).alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )


_PAIR_EXPAND_MAX = 32  # <= 496 in-array pairs per bucket row


def _bucket_candidates(
    entries: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int,
    expand_max: int | None = None,
) -> DataFrame:
    """Candidate pairs from bucket membership, in ONE grouping shuffle.

    Small buckets (<= ``expand_max`` ids, default 32) expand pairs in-array
    (no join at all); the rare larger buckets — bounded by ``max_bucket``,
    the quadratic-bomb guard — fall back to an explode + self-join on the
    bucket id.  Measured 4× over the naive count+filter+join+self-join
    chain at bench scale, and strictly fewer shuffles at 100 TB.  Callers
    whose buckets are uniformly mid-sized (e.g. few-bit LSH bands) can
    raise ``expand_max`` to keep everything on the join-free path — the
    cost is one in-array row of ~n²/2 pair structs per bucket.
    """
    if expand_max is None:
        expand_max = _PAIR_EXPAND_MAX
    grouped = (
        entries.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    if expand_max > _PAIR_EXPAND_MAX:
        # Mid-sized buckets (LSH bands with few bits): expand each bucket's
        # n²/2 pairs with one numpy triu per bucket row inside an Arrow
        # batch — the Catalyst nested-lambda expansion costs ~1µs/pair,
        # which dominates the whole operator at millions of candidates.
        # Repartition first: AQE's byte-based coalesce sees only the small
        # pre-explosion rows and would funnel the expansion into 1-2 tasks.
        import pandas as pd

        spread = grouped.repartition(
            grouped.sparkSession.sparkContext.defaultParallelism, *bucket_cols
        )

        def expand(batches):
            import numpy as np

            # One frame per bucket bounds task memory at max_bucket²/2
            # pairs regardless of how many buckets share a batch.
            for pdf in batches:
                for ids in pdf["ids"]:
                    arr = np.asarray(ids, dtype=np.int64)  # sorted by agg
                    iu, ju = np.triu_indices(len(arr), 1)
                    yield pd.DataFrame({"id_a": arr[iu], "id_b": arr[ju]})

        return (
            spread.select("ids")
            .mapInPandas(expand, "id_a long, id_b long")
            .distinct()
        )
    small = grouped.filter(F.size("ids") <= expand_max)
    pairs_small = (
        small.select(F.explode(_pair_expansion(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    if max_bucket <= expand_max:
        return pairs_small.distinct()
    big = grouped.filter(F.size("ids") > expand_max)
    m = big.select(*bucket_cols, F.explode("ids").alias("id"))
    a = m.alias("a")
    b = m.alias("b")
    key = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
    cond = key[0]
    for k_ in key[1:]:
        cond = cond & k_
    pairs_big = a.join(b, cond & (F.col("a.id") < F.col("b.id"))).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    return pairs_small.unionByName(pairs_big).distinct()


def portable_hash60(col: Column | str) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    BIGINT.  Bit-identical in any engine with md5 (DuckDB:
    ``('0x'||substr(md5(x),1,15))::BIGINT``) — the base hash for the
    near-dup variants whose entire pipeline must be reproducible outside
    Spark (cross-engine dedup decisions, oracle verification).  ~2× slower
    than xxhash64 per call; both stay JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(F.encode(c, "UTF-8")), 1, 15), 16, 10).cast(
        "bigint"
    )


def _base_hash(col: "str | Column", base_hash: str) -> Column:
    if base_hash == "md5":
        return portable_hash60(col)
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"base_hash must be 'xxhash64' or 'md5', got {base_hash!r}")


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Canonical exact dedup: one row per distinct key, represented by the
    minimum id (deterministic, unlike ``dropDuplicates``)."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 4,
    seed: int = 42,
    base_hash: str = "xxhash64",
    _sets: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: ``(id, sig array<bigint>)``.

    Computed IN-ARRAY, shuffle-free (round 13 — was explode + groupBy,
    one full shuffle keyed by id): a document's shingles are already one
    array row, so the per-hash minimum is ``array_min`` over a ``transform``
    of the base-hashed shingle array — a narrow per-row map.  The base
    hash is projected ONCE into ``__hs`` so the k universal hashes
    ``(a*h + b) mod 2^31-1`` each traverse cheap longs, not k re-inlined
    md5 chains; the modulus keeps products inside signed-64 range so the
    plan is ANSI-safe.  ``base_hash='md5'`` swaps the base to
    :func:`portable_hash60` so the signatures are engine-portable
    (reproducible in DuckDB SQL — the oracle twin in ``__spark_entry__``
    re-derives them bit-for-bit).  Assumes one row per document id (the
    shape :func:`shingle_sets` emits); values are bit-identical to the
    exploded formulation — min over the same distinct-shingle set.
    """
    params = _hash_params(num_hashes, seed)
    sets = _sets if _sets is not None else shingle_sets(df, id_col, text_col, shingle_k)
    hs = sets.select(
        F.col("id").alias(id_col),
        F.transform(
            "sh",
            lambda s: F.pmod(_base_hash(s, base_hash), F.lit(_MERSENNE)),
        ).alias("__hs"),
    )
    # One SQL-text parse for the k permutation minima: building them
    # Column-by-Column costs ~5 py4j round trips per hash (~0.8 s of
    # driver latency per call at k=64 — charged per streaming micro-
    # batch).  Literals are plain INT text, matching F.lit's
    # IntegerType, so the bigint arithmetic — and the values — are
    # identical to the Column formulation.
    mins = ",".join(
        f"array_min(transform(__hs, h -> pmod(h * {a} + {b}, {_MERSENNE})))"
        for (a, b) in params
    )
    return hs.select(id_col, F.expr(f"array({mins})").alias("sig"))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding, exactly verified.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and true shingle
    Jaccard >= threshold.  With ``base_hash='md5'`` the band bucket is the
    joined signature slice itself (no re-hash) so the whole candidate
    pipeline — base hash, permutations, banding, bucket caps, verification
    — is reproducible in portable SQL.
    """
    band_entries, sets = minhash_index(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, seed=seed, base_hash=base_hash,
    )
    cand = _bucket_candidates(band_entries, ["band", "bucket"], "id", max_bucket)
    return _verify_jaccard(cand, sets, jaccard_threshold)


def verify_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cand: DataFrame,
    *,
    shingle_k: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT-Jaccard verification of an externally produced candidate
    pair list — the second stage of a sketch-first cascade: estimates
    (KMV/MinHash) nominate candidates cheaply, then only the nominated
    pairs pay the full shingle-set intersect/union.  At 100 TB the
    shingle sets of candidate MEMBERS are the only full sets that ever
    join — corpus² never appears, and the shuffle is |candidate ids|
    sets, not |corpus|."""
    sets = shingle_sets(df, id_col, text_col, k=shingle_k)
    return _verify_jaccard(cand.select("id_a", "id_b"), sets, threshold)


def _verify_jaccard(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int = 20,
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs with rare-shingle candidates.

    Deterministic and SQL-expressible (DuckDB oracle twin in
    ``__spark_entry__``): candidates share >=1 shingle with document
    frequency <= ``max_doc_freq``; each candidate pair is scored by exact
    Jaccard over distinct shingle sets.
    """
    with cache_scope() as persist:
        sets = persist(shingle_sets(df, id_col, text_col, shingle_k))
        exploded = sets.select("id", F.explode("sh").alias("shingle"))
        cand = _bucket_candidates(exploded, ["shingle"], "id", max_doc_freq)
        # the (tiny) verified pair list, materialized before the scope
        # releases the shingle cache
        return _verify_jaccard(cand, sets, threshold).localCheckpoint(eager=True)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family: Bayardo et al., WWW'07; Xiao et al., WWW'08 — public).

    Unlike :func:`jaccard_pairs` (whose ``max_doc_freq`` cap can drop a
    pair all of whose shared shingles are frequent), prefix filtering is
    complete at the threshold: order every document's shingles by global
    rarity ``(doc_freq, shingle)``, keep only the first
    ``|x| - ceil(t·|x|) + 1`` as its *prefix*, and generate candidates
    from prefix-token collisions — any pair with Jaccard ≥ t must share
    a token in both prefixes (overlap ≥ ceil(t·max(|x|,|y|)), and a
    doc's suffix holds only ceil(t·|x|)-1 tokens).  Exact verification
    then scores candidates, so the output equals the brute-force
    threshold join while candidate generation touches only the rare
    tokens — at 100 TB the inverted index this builds is a fraction of
    the full one, and no quadratic frequent-token bucket exists because
    frequent tokens sort out of almost every prefix.

    Plan: shingle pass → one doc-freq aggregate → one id-keyed grouping
    to sort each doc's tokens (rarest first) → prefix explode → the
    shared one-shuffle bucket candidate generator → exact verify.
    ``threshold`` must be exactly representable in binary (0.5, 0.25,
    0.75…) so ``ceil(t·n)`` is bit-identical in any engine.
    """
    # scale=False: this pipeline explodes and reshuffles immediately
    # (doc-freq groupBy, id-keyed regroup), so the input rescale buys no
    # parallelism and measured SLOWER end-to-end (r14 interleaved A/B:
    # 2.49 -> 3.90 s medians with it on)
    with cache_scope() as persist:
        sets = persist(
            shingle_sets(df, id_col, text_col, shingle_k, scale=False)
        )
        ex = sets.select("id", F.explode("sh").alias("shingle"))
        dfreq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
        ordered = (
            ex.join(dfreq, "shingle")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("arr"))
            .select(
                "id",
                F.size("arr").alias("n"),
                F.transform("arr", lambda s: s["shingle"]).alias("toks"),
            )
        )
        plen = (F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1).cast("int")
        prefix_entries = ordered.select(
            "id", F.explode(F.slice("toks", F.lit(1), plen)).alias("shingle")
        )
        cand = _bucket_candidates(
            prefix_entries, ["shingle"], "id", max_bucket=1 << 31
        )
        # the (tiny) verified pair list, materialized before the scope
        # releases the shingle cache
        return _verify_jaccard(cand, sets, threshold).localCheckpoint(eager=True)


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 4,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Build the reusable dedup index for a corpus: ``(band_entries,
    shingle_sets)`` — the two tables incremental dedup needs.  In
    production these are WRITTEN OUT (parquet, partitioned by band/bucket)
    once per corpus version; a daily delta then dedups against them
    without re-shingling the 100 TB corpus (:func:`minhash_dedup_against_index`).

    The returned ``shingle_sets`` table is a lazy local checkpoint: the
    signatures and the caller (verification, or the index write) read
    one tokenizer pass, and its storage belongs to the returned frame —
    there is nothing to release.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    sets = shingle_sets(df, id_col, text_col, shingle_k).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures(
        df, "id", text_col, num_hashes, shingle_k, seed, base_hash, _sets=sets
    )

    # band buckets as one SQL-text parse (same py4j-latency motive as
    # the signature minima above); text replicates the Column chain
    # exactly: array_join of stringified slice, xxhash64'd unless the
    # portable md5 base keeps the joined string itself.
    def _band_bucket(j: int) -> str:
        joined = (
            f"array_join(transform(slice(sig, {j * rows + 1}, {rows}), "
            "x -> cast(x as string)), '_')"
        )
        return joined if base_hash == "md5" else f"cast(xxhash64({joined}) as string)"

    bb = ",".join(
        f"named_struct('band', {j}, 'bucket', {_band_bucket(j)})"
        for j in range(bands)
    )
    entries = sig.select(
        "id", F.explode(F.expr(f"array({bb})")).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    return entries, sets


def minhash_dedup_against_index(
    delta: DataFrame,
    index_entries: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup detection: pairs ``(id_a, id_b, jaccard)``
    linking a DELTA batch to the indexed corpus or to itself — the
    corpus×corpus pairs are never regenerated (the corpus is already
    deduped; re-pairing it each ingest is the quadratic cost this operator
    exists to avoid).

    One shuffle joins the delta's band entries against the combined entry
    table; the hub guard counts buckets over corpus+delta together, so a
    bucket that became pathological only after the delta landed is still
    capped.  Verification reads shingle sets from the stored index for
    corpus docs and computes them only for the delta.
    """
    d_entries, d_sets = minhash_index(
        delta, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, seed=seed, base_hash=base_hash,
    )
    return minhash_pairs_from_tables(
        d_entries, d_sets, index_entries, index_sets,
        jaccard_threshold=jaccard_threshold, max_bucket=max_bucket,
    )


def minhash_pairs_from_tables(
    d_entries: DataFrame,
    d_sets: DataFrame,
    index_entries: DataFrame,
    index_sets: DataFrame,
    *,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Table-level core of :func:`minhash_dedup_against_index`: the
    delta's band entries + shingle sets are ALREADY computed (e.g. a
    streaming ingest that materializes them once for both the pair
    computation and the index append — shingling a batch twice is the
    cost this split removes)."""
    all_entries = index_entries.unionByName(d_entries)
    # Hub guard as a broadcast ANTI-join against the VIOLATING buckets
    # only: violators are rare by definition (that's what makes them
    # hubs), so the broadcast stays tiny at any corpus size — unlike a
    # broadcast of all occupied buckets.
    violators = (
        all_entries.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > max_bucket)
        .select("band", "bucket")
    )
    pruned = all_entries.join(F.broadcast(violators), ["band", "bucket"], "left_anti")
    cand = (
        d_entries.alias("d")
        .join(
            pruned.alias("o"),
            (F.col("d.band") == F.col("o.band"))
            & (F.col("d.bucket") == F.col("o.bucket"))
            & (F.col("d.id") != F.col("o.id")),
        )
        .select(
            F.least("d.id", "o.id").alias("id_a"),
            F.greatest("d.id", "o.id").alias("id_b"),
        )
        .distinct()
    )
    all_sets = index_sets.unionByName(d_sets)
    return _verify_jaccard(cand, all_sets, jaccard_threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(id, rep)`` where ``rep`` is the minimum id reachable through the
    pair graph — the step that turns pairwise dedup verdicts into dedup
    GROUPS with one canonical representative each.

    Min-label propagation: every node starts as its own label; each round
    takes the min over neighbors; converges in O(graph diameter) rounds —
    dedup clusters are shallow (near-dup graphs are dense cliques, not
    chains), so this is 2-4 shuffle rounds in practice.  Each round is one
    join + one groupBy on the edge list; labels persist between rounds and
    convergence is an exact changed-count check, not a fixed iteration
    budget.  (For adversarial high-diameter graphs, switch to the
    large-star/small-star contraction — same per-round shape, O(log n)
    rounds; not needed for dedup workloads.)  Nodes outside any pair are
    their own singleton components and are omitted, matching the
    recursive-CTE oracle twin in ``__spark_entry__``.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    with cache_scope() as persist:
        edges = persist(
            edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            # a-hash layout: every propagation hop joins labels on "a", so
            # the cached edge list is never re-shuffled across rounds
            # (round 13, same shape as the graph-operator edge caches)
            .repartition(F.col("a"))
        )
        # round 1's two hops read the initial labels four times
        labels = persist(
            edges.select(F.col("a").alias("id")).distinct().withColumn(
                "lab", F.col("id")
            )
        )

        def _propagate(lab_df: DataFrame) -> DataFrame:
            neighbor_min = (
                edges.join(lab_df.withColumnRenamed("id", "a"), "a")
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("lab").alias("nmin"))
            )
            return lab_df.join(neighbor_min, "id", "left").select(
                "id",
                F.least(F.col("lab"), F.coalesce("nmin", F.col("lab"))).alias("lab"),
                (F.col("nmin") < F.col("lab")).alias("__chg"),
            )
        for _ in range(max_iter):
            # Two propagation hops per materialization: dedup components are
            # shallow (cliques converge in one hop), so doubling hops halves
            # the checkpoint/count job overhead that dominates at small
            # diameters while leaving deep-graph behavior at O(diameter/2)
            # rounds.
            hop1 = _propagate(labels).drop("__chg")
            # localCheckpoint TRUNCATES LINEAGE each round — without it the
            # label plan grows by two joins per round (hundreds of nodes by
            # convergence), which is the classic iterative-Spark driver hazard:
            # planning cost and driver memory scale with rounds, not data.
            # LAZY + full count: the changed-count job computes every
            # partition (the filter is row-level), materializing the
            # checkpoint in the same job — eager paid two jobs per round
            # (round 13).  Tradeoff (documented): local checkpoints don't
            # survive executor loss; swap for reliable checkpoint(dir) on
            # long production runs.
            updated = _propagate(hop1).localCheckpoint(eager=False)
            changed = updated.filter(F.col("__chg")).count()
            labels = updated.drop("__chg")
            if changed == 0:
                # every round's checkpoint is materialized: the result no
                # longer reads the edge cache the scope releases
                return labels.select("id", F.col("lab").alias("rep"))
    # silent wrong answers are worse than a loud one: labels that are
    # still moving after max_iter rounds mean the graph diameter exceeds
    # 2*max_iter — use connected_components_star (O(log n) rounds) for
    # high-diameter graphs.
    raise ValueError(
        f"connected_components: labels still changing after "
        f"{max_iter} rounds (graph diameter > {2 * max_iter}); "
        "use connected_components_star for high-diameter graphs"
    )


def dedup_corpus(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """End-to-end dedup: given near-dup ``pairs``, drop every document
    that is a non-canonical member of a duplicate group (the group's
    minimum id survives).  This is the user-facing operation the pair
    finders exist for: corpus in, deduplicated corpus out.

    The drop set (component members ≠ representative) is at most the
    pair-participating docs — tiny relative to the corpus — so the final
    filter is a broadcast-friendly anti-join against the full table."""
    comp = connected_components(pairs, max_iter=max_iter)
    drop = comp.filter(F.col("id") != F.col("rep")).select("id")
    return df.join(
        F.broadcast(drop), df[id_col] == drop["id"], "left_anti"
    )


def simhash64(
    df: DataFrame, id_col: str, text_col: str, base_hash: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint per document: ``(id, simhash bigint)``.

    63 bits over xxhash64 (bit 63 left clear to stay in signed-long range);
    ``base_hash='md5'`` uses the 60-bit :func:`portable_hash60` so the
    fingerprint is engine-portable (DuckDB oracle twin re-derives it)."""
    nbits = 60 if base_hash == "md5" else 63
    if base_hash == "md5":
        h_sql = (
            "cast(conv(substring(md5(encode(t, 'UTF-8')), 1, 15), 16, 10)"
            " as bigint)"
        )
    elif base_hash == "xxhash64":
        h_sql = "xxhash64(t)"
    else:
        raise ValueError(
            f"base_hash must be 'xxhash64' or 'md5', got {base_hash!r}"
        )
    # Fully IN-ROW (round 13): a document's tokens are already one array
    # row, so the per-bit ±1 sums never needed the explode + groupBy
    # collect_list shuffle the previous formulation paid — and integer
    # sums are order-independent, so the bits are identical to the
    # shuffled collect_list order.  The hash array is LET-BOUND (the 60
    # per-bit aggregates each reference it; inlined, the tokenize+hash
    # transform would re-run per bit).  Token-less and null-text
    # documents are filtered out, matching the explode formulation
    # (which simply produced no rows to group).  One array expression
    # instead of ~60 aggregate columns: a fraction of the generated
    # code — measured 2-3× faster cold (codegen compile) AND warm.  The
    # SQL form is used because the Python shiftright/shiftleft wrappers
    # reject column shift amounts.
    # Scale the heavy fold out first (round 14): a small corpus arrives
    # as O(1) scan splits and the per-document 60-pass aggregate would
    # run nearly single-task — the r13 driver-bench regression.  No-op
    # whenever the scan already has >= cores partitions (any real scale).
    from h2h_spark.operators import scale_out

    src = scale_out(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = src.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") >= 1
    )
    return toks.selectExpr(
        id_col,
        f"""
        element_at(transform(array(transform(__toks, t -> {h_sql})), hs ->
          aggregate(
            zip_with(
              transform(sequence(0, {nbits - 1}), j ->
                aggregate(hs, 0L, (acc, h) ->
                  acc + (CAST(shiftright(h, j) & 1 AS BIGINT) * 2 - 1))),
              sequence(0, {nbits - 1}),
              (s, j) -> IF(s > 0, shiftleft(1L, j), 0L)),
            0L, (acc, x) -> acc + x)), 1) AS simhash
        """,
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 8,
    max_bucket: int = 500,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole banding: split the fingerprint into ``chunks`` bands and
    bucket on any identical band (distance <= chunks-1 guarantees a shared
    band) — same one-shuffle candidate shape as MinHash banding.  With
    ``base_hash='md5'`` the fingerprint is the portable 60-bit variant
    (use a ``chunks`` that divides 60, e.g. 6).
    """
    with cache_scope() as persist:
        fps = persist(
            simhash64(df, id_col, text_col, base_hash).withColumnRenamed(id_col, "id")
        )
        width = (60 if base_hash == "md5" else 64) // chunks
        entries = fps.select(
            "id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.shiftright(F.col("simhash"), j * width)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("chunk"),
                        )
                        for j in range(chunks)
                    ]
                )
            ).alias("bb"),
        ).select("id", "simhash", "bb.band", "bb.chunk")
        # Hub guard: drop pathological buckets before the self-join — as a
        # broadcast ANTI-join against the violators only (rare by definition,
        # so the broadcast stays tiny at any corpus size; broadcasting all
        # occupied buckets would grow with the corpus).
        violators = (
            entries.groupBy("band", "chunk")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band", "chunk")
        )
        pruned = entries.join(F.broadcast(violators), ["band", "chunk"], "left_anti")
        a = pruned.alias("a")
        b = pruned.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("fp_a"),
                F.col("b.simhash").alias("fp_b"),
            )
            .distinct()
        )
        dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        return (
            cand.withColumn("hamming", dist)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            # materialize (the output is the near-dup pair list — tiny next
            # to the corpus by construction) before the scope releases the
            # fingerprint cache
            .localCheckpoint(eager=True)
        )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — public): the O(log n)-round alternative to min-label
    propagation for HIGH-DIAMETER graphs, where propagation needs
    O(diameter) rounds.

    Per round, every node connects its neighborhood to the neighborhood
    minimum: large-star rewires only strictly-larger neighbors (safe in
    parallel), small-star the rest; alternating the two contracts every
    component to a star around its minimum id.  Convergence is an exact
    fixed-point check on the edge set.  Output contract matches
    :func:`connected_components`: ``(id, rep)`` with ``rep`` the
    component minimum, singleton-free.

    Round 14 representation: the working graph is an ADJACENCY LIST
    ``(u, vs = Γ(u))`` instead of an edge list.  Each half-round is then
    exactly ONE shuffle — explode the rewired edges (narrow), group them
    back by the new endpoint with ``collect_set`` (hash shuffle with
    map-side partial aggregation) — where the edge-list form paid two:
    a window-min over ``u`` (shuffle + per-group sort) plus the
    ``distinct`` re-dedup (second shuffle).  ``m(u)`` becomes an in-row
    ``least(array_min(vs), u)``; the set semantics (distinct undirected
    edges, both orientations) are identical because ``collect_set``
    dedupes exactly what ``distinct`` deduped.  Skew posture: a hot
    vertex's neighborhood now aggregates via partial ``collect_set``
    merges (the ADVICE-r13 window caveat — one task sorting the whole
    neighborhood — no longer applies), at the cost of holding Γ(u) as
    one array value per row, the standard CC-over-adjacency trade.
    """
    e0 = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        F.col("u") != F.col("v")
    )

    def _group(d: DataFrame) -> DataFrame:
        """(a, b) candidate edges (a != b upstream) -> symmetric
        adjacency, deduped by collect_set: the half-round's ONE
        shuffle."""
        sym = d.unionByName(
            d.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        return sym.groupBy(F.col("a").alias("u")).agg(
            F.collect_set("b").alias("vs")
        )

    # undirected working set, deduped, localCheckpointed per round
    adj = _group(
        e0.select(F.col("u").alias("a"), F.col("v").alias("b"))
    ).localCheckpoint(eager=True)

    # m(u) = min(Γ(u) ∪ {u}) — in-row, no shuffle
    _m = F.least(F.array_min("vs"), F.col("u"))

    def _adj_sig(d: DataFrame) -> tuple:
        """(directed-edge count, xxhash64 xor-fold over (u, v)): an
        order-independent edge-set signature whose inequality proves
        set inequality (xor, not sum: ANSI mode rejects the overflowing
        long sum; sets are distinct so no pair cancels itself)."""
        r = d.agg(
            F.coalesce(F.sum(F.size("vs")), F.lit(0)).alias("n"),
            F.coalesce(
                F.expr(
                    "bit_xor(aggregate(vs, 0L, (acc, x) -> acc ^ xxhash64(u, x)))"
                ),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    def _norm(d: DataFrame) -> DataFrame:
        """Comparable adjacency rows: (u, sorted vs).  Row-set equality
        of the normalized adjacency IS edge-set equality (collect_set
        order is arbitrary, hence the sort) — and it compares |V| rows
        instead of the 2|E| exploded edge rows."""
        return d.select("u", F.array_sort("vs").alias("vs"))

    sig_e = _adj_sig(adj)
    for it in range(max_iter):
        # large-star: every strictly-larger neighbor of u rewires to
        # m(u); the v < u orientation contributes nothing (handled from
        # v's center).  m != v holds (m <= u < v), so no self-loops.
        ls = adj.select(
            _m.alias("b"), F.explode(F.expr("filter(vs, x -> x > u)")).alias("a")
        )
        # LAZY checkpoints + ONE job per round (round 13): the
        # signature aggregate below computes every partition of e1
        # (ancestor) and e2, materializing both checkpoints — the
        # eager-checkpoint + two-limit-probe shape paid five jobs per
        # round, which on small contraction graphs WAS the cc_star
        # runtime.
        e1 = _group(ls).localCheckpoint(eager=False)
        # small-star: every smaller neighbor AND u itself rewires to
        # m(u); drop the self-loops (v == m, and u == m for a u that is
        # its own neighborhood minimum).
        e1m = e1.select("u", "vs", _m.alias("m"))
        ss = e1m.select(
            F.col("m").alias("b"),
            F.explode(F.expr("filter(vs, x -> x < u)")).alias("a"),
        ).filter(F.col("a") != F.col("b"))
        centers = e1m.filter(F.col("u") != F.col("m")).select(
            F.col("u").alias("a"), F.col("m").alias("b")
        )
        e2 = _group(ss.unionByName(centers)).localCheckpoint(eager=False)
        # Fixed-point test, exactness preserved: differing (count,
        # hash-sum) signatures PROVE the edge sets differ, so the
        # expensive two-sided exceptAll comparison only runs when the
        # signatures collide — i.e. once, on the terminating round
        # (or on an astronomically unlikely hash collision, where it
        # correctly reports "not equal yet" and the loop continues).
        sig2 = _adj_sig(e2)
        if sig2 == sig_e:
            ndiff = (
                _norm(e2)
                .exceptAll(_norm(adj))
                .unionAll(_norm(adj).exceptAll(_norm(e2)))
                .count()
            )
            if ndiff == 0:
                adj = e2
                break
        adj = e2
        sig_e = sig2
    else:
        raise ValueError(
            f"connected_components_star: no fixed point in {max_iter} rounds"
        )
    # fixed point is a star forest: every edge (v, m) with m the minimum
    stars = adj.select(
        F.col("u").alias("id"),
        F.explode(F.expr("filter(vs, x -> x < u)")).alias("rep"),
    )
    reps = stars.select(F.col("rep").alias("id")).distinct().select(
        "id", F.col("id").alias("rep")
    )
    return stars.unionByName(reps)


def dhash_neardup_pairs(
    hashes: DataFrame,
    id_col: str = "id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    *,
    max_hamming: int = 6,
) -> DataFrame:
    """Image near-duplicate pairs from 64-bit perceptual hashes
    (dHash/pHash family) — the LSH-banding discipline applied to
    Hamming space: a pair within Hamming distance k must agree EXACTLY
    on at least one of 4 disjoint 16-bit bands whenever k < 4 bands
    (pigeonhole: k bit-flips can dirty at most k bands)... and is a
    useful recall filter beyond that.  Candidates come only from
    same-band-value buckets (one grouping shuffle), then popcount of
    the XOR verifies — never an all-pairs scan.

    Returns distinct ``(id_a, id_b, dist)`` with id_a < id_b,
    dist ≤ max_hamming.  All bit arithmetic (shift/and/xor/bit_count)
    is engine-portable integer work.
    """
    h = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hi_col).alias("hi"),
        F.col(lo_col).alias("lo"),
    )
    bands = h.select(
        "id", "hi", "lo",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
    ).withColumn(
        "val",
        F.when(F.col("band") == 0, F.col("lo") % 65536)
        .when(F.col("band") == 1, F.expr("lo div 65536"))
        .when(F.col("band") == 2, F.col("hi") % 65536)
        .otherwise(F.expr("hi div 65536")),
    )
    a = bands.select(
        "band", "val", F.col("id").alias("id_a"),
        F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a"),
    )
    b = bands.select(
        "band", "val", F.col("id").alias("id_b"),
        F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b"),
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    dist = (
        F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    ).cast("int")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= max_hamming)
        .select("id_a", "id_b", "dist")
    )


def _gear_table() -> list[int]:
    """256-entry gear table, each entry the first 8 md5 hex digits of the
    byte's chr() — portable to any engine with md5 (the same discipline
    as portable_hash60)."""
    import hashlib as _hashlib

    return [
        int(_hashlib.md5(chr(b).encode("utf-8")).hexdigest()[:8], 16)
        for b in range(256)
    ]


def content_defined_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    mask_bits: int = 6,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (gear hash, the FastCDC family) — the
    dedup primitive that survives insertions: chunk boundaries depend
    on local content, not offsets, so an edit shifts at most its own
    chunk while offset-based chunking shifts every subsequent one.

    Gear recurrence ``h_i = (2·h_{i-1} + t[c_i]) mod 2^32`` — the mod
    truncates it to a 32-term weighted window sum, which is exactly
    what makes the whole operator EXTERNALLY GRADEABLE: an oracle can
    recompute every hash with a 32-offset self-join.  Boundary where
    ``h_i mod 2^mask_bits == 0`` (expected chunk ≈ 2^mask_bits bytes).

    Per doc: one vectorized numpy pass (sliding-window dot mod 2^32),
    Arrow-batched; output ``(id, chunk_idx, start, chunk_len,
    chunk_md5)`` — the chunk table that feeds hash-based dedup.

    ``start``/``chunk_len`` are 1-based BYTE offsets/lengths into the
    UTF-8 encoding and ``chunk_md5`` hashes the raw byte slice: the
    gear hash runs over bytes, so boundaries are byte positions and may
    fall inside a multi-byte codepoint — chunks always tile the byte
    stream exactly (web-crawl corpora are not ASCII; slicing the str by
    byte indices would corrupt every non-ASCII document).
    """
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    table = np.array(_gear_table(), dtype=np.uint64)
    mask = (1 << mask_bits) - 1
    weights = (np.uint64(1) << np.arange(32, dtype=np.uint64))  # k = 0..31

    def _run(batches):
        for pdf in batches:
            ids, idxs, starts, lens, md5s = [], [], [], [], []
            for rid, text in zip(pdf["__id"], pdf["__text"]):
                enc = text.encode("utf-8")
                bs = np.frombuffer(enc, dtype=np.uint8).astype(np.int64)
                n = len(bs)
                if n == 0:
                    continue
                t = table[bs]  # uint64, < 2^32
                # h_i = sum_{k=0..31} (t[i-k] << k)  (mod 2^32); for a
                # doc shorter than the 32-byte window only the first n
                # offsets exist (k >= n would slice t negatively and
                # crash on shape mismatch)
                h = np.zeros(n, dtype=np.uint64)
                for k in range(min(32, n)):
                    term = (t[: n - k] * weights[k]) & np.uint64(0xFFFFFFFF)
                    h[k:] += term
                h &= np.uint64(0xFFFFFFFF)
                bounds = np.nonzero((h & np.uint64(mask)) == 0)[0]
                prev = 0
                ci = 0
                for b in list(bounds) + ([n - 1] if (len(bounds) == 0 or bounds[-1] != n - 1) else []):
                    seg = enc[prev:int(b) + 1]  # byte slice — see docstring
                    ids.append(rid)
                    idxs.append(ci)
                    starts.append(prev + 1)  # 1-based byte offset
                    lens.append(len(seg))
                    md5s.append(_hashlib.md5(seg).hexdigest())
                    ci += 1
                    prev = int(b) + 1
            yield pd.DataFrame(
                {
                    "__id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "start": pd.Series(starts, dtype="int64"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                    "chunk_md5": pd.Series(md5s, dtype="object"),
                }
            )

    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    return base.mapInPandas(
        _run,
        "__id long, chunk_idx long, start long, chunk_len long, "
        "chunk_md5 string",
    ).withColumnRenamed("__id", id_col)
