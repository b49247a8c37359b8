"""Extension operators: dedup, similarity search, text, multimodal."""
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from h2h_spark.operators import dedup as D
from h2h_spark.operators import multimodal as MM
from h2h_spark.operators import simsearch as S
from h2h_spark.operators import text as TX

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different text about spark engines and data pipelines ok"),
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"] for r in
           D.exact_dedup(docs, ["text"], "doc_id").collect()}
    assert out[1] == 2  # min id represents the dup group
    assert 2 not in out
    assert out[3] == 1


def test_jaccard_pairs_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_near_duplicates(docs):
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_near_duplicates(docs, "doc_id", "text",
                                       jaccard_threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (4, 5) not in pairs


def test_minhash_estimates_jaccard(spark):
    """MinHash signature agreement must track true Jaccard."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = D.minhash_signatures(docs, "doc_id", "text", num_hashes=64)
    a = sig.alias("a").filter(F.col("doc_id") < 10)
    b = sig.alias("b").filter(F.col("doc_id") < 10)
    est = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.size(
                F.filter(
                    F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
                    lambda z: z == 1,
                )
            ).alias("agree")
        )
    )
    rows = est.collect()
    assert all(0 <= r.agree <= 64 for r in rows)


def test_simhash_exact_dup_distance_zero(docs):
    fps = {r["doc_id"]: r["simhash"] for r in
           D.simhash64(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert fps[1] >= 0  # bit 63 clear → non-negative long
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             D.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0


def test_cosine_topk_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    query = list(map(float, pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0]))
    got = S.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", query, k=5
    ).collect()
    q = np.array(query)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = [
        int(pdf.vec_id.iloc[i])
        for i in np.argsort(-cos, kind="stable")
        if int(pdf.vec_id.iloc[i]) != 0
    ][:5]
    assert [r.vec_id for r in got] == order
    for r in got:
        i = pdf.index[pdf.vec_id == r.vec_id][0]
        assert math.isclose(r.score, cos[i], rel_tol=1e-9)


def test_ann_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    query = list(map(float, pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0]))
    exact = [r.vec_id for r in S.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", query, k=10
    ).collect()]
    approx = [r.vec_id for r in S.ann_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", query,
        k=10, nbits=8,
    ).collect()]
    # approximate: require some overlap with exact top-10 (sane recall)
    assert len(set(exact) & set(approx)) >= 3


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "The quick fox."), (2, "a a a")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in TX.token_stats(df, "doc_id", "text").collect()}
    assert out[1].n_tokens == 3
    assert out[1].n_chars == 14
    assert out[2].n_uniq_tokens == 1
    assert out[2].stopword_ratio == 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "der Hund ist nicht in das Haus und"),
            (3, "le chat est dans la maison et les chiens"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in TX.lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fp for r in TX.fingerprint(df, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_quality_score_band(spark):
    df = spark.createDataFrame(
        [(1, "the " + " ".join(f"word{i}" for i in range(50))), (2, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.quality for r in TX.quality_score(df, "doc_id", "text").collect()}
    assert out[1] > out[2]


def test_multimodal_decode_and_frames(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "x" * 5000)], "doc_id long, text string"
    )
    binary = MM.with_binary_payload(docs, "doc_id", "text")
    assert dict(binary.dtypes)["payload"] == "binary"
    feats = {r.doc_id: r for r in MM.decode_features(binary, "doc_id").collect()}
    assert feats[1].n_bytes == 3
    assert feats[2].n_bytes == 5000
    assert feats[1].decoder == "stub"
    assert len(feats[1].payload_md5) == 32
    frames = MM.frame_sample(binary, "doc_id", frame_bytes=1024, stride=2).collect()
    assert {r.doc_id for r in frames} == {1, 2}
    assert sum(1 for r in frames if r.doc_id == 2) == 2  # ceil(4/2) frames
    resized = {r.doc_id: r for r in MM.resize_images(binary, "doc_id", 8, 8).collect()}
    assert isinstance(resized[1].resized, (bytes, bytearray))  # binary OUT
    assert bytes(resized[1].resized) == b"abc"          # shorter than budget
    assert len(bytes(resized[2].resized)) == 64         # truncated to w*h


def test_asof_join_backward(spark):
    from h2h_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 20, 50), (4, 30, 99)],
        "event_id long, key long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (20, 60, "c")],
        "key long, t long, val string",
    )
    out = {r.event_id: r.val for r in asof_join(
        left, right, left_on="key", right_on="key",
        left_ts="t", right_ts="t", value_cols=["val"],
    ).collect()}
    assert out[1] == "a"   # inclusive match at equal ts
    assert out[2] == "b"   # latest <= 205
    assert out[3] is None  # right ts 60 > 50 → no match
    assert out[4] is None  # key 30 absent


def test_asof_join_attaches_null_value_row(spark):
    """A right row whose value column is NULL is still the match — its NULL
    is attached, not an older row's value (DuckDB ASOF / merge_asof
    semantics).  Ties at equal (key, ts) resolve deterministically."""
    from h2h_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 300)], "event_id long, key long, t long")
    right = spark.createDataFrame(
        [(10, 100, "old"), (10, 200, None)], "key long, t long, val string"
    )
    out = asof_join(
        left, right, left_on="key", right_on="key",
        left_ts="t", right_ts="t", value_cols=["val"],
    ).collect()
    assert out[0].val is None  # the ts=200 row matches; its NULL sticks

    # deterministic tiebreak: two right rows at the same ts → max struct
    right2 = spark.createDataFrame(
        [(10, 200, "x"), (10, 200, "y")], "key long, t long, val string"
    )
    for _ in range(3):
        got = asof_join(
            left, right2, left_on="key", right_on="key",
            left_ts="t", right_ts="t", value_cols=["val"],
        ).collect()[0].val
        assert got == "y"


def test_knn_join_matches_bruteforce(spark):
    from h2h_spark.operators.simsearch import knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3)
    got = knn_join(probes, emb, "vec_id", "embedding", k=2).collect()
    assert len(got) == 6
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.neighbor_id, r.score))
    for pid, rows in by_probe.items():
        rows.sort()
        assert rows[0][2] >= rows[1][2]  # rank 1 has >= score
        assert all(n != pid for _, n, _ in rows)


def test_ivf_topk_recall(spark):
    from h2h_spark.operators.simsearch import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    query = list(map(float, pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0]))
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_topk(corpus, "vec_id", "embedding", query, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(corpus, "vec_id", "embedding", query,
                                         k=10, n_centroids=8, n_probe=3).collect()]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 3


def test_cosine_near_pairs_symmetric_exact(spark):
    from h2h_spark.operators.simsearch import cosine_near_pairs
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    got = {(r.id_a, r.id_b): r.score for r in
           cosine_near_pairs(emb, "vec_id", "embedding", threshold=0.2).collect()}
    pdf = emb.toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    norms = np.linalg.norm(mat, axis=1)
    ids = pdf.vec_id.tolist()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                c = round(float(mat[i] @ mat[j] / (norms[i] * norms[j])), 3)
                if c >= 0.2:
                    assert got.get((ids[i], ids[j])) == c


def test_ann_and_ivf_knn_join_recall(spark):
    """Batch approximate k-NN (one plan per probe block) clears the recall
    contract floor vs the exact twin on every probe."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = {}
    for r in S.knn_join(probes, emb, "vec_id", "embedding", k=5).collect():
        exact.setdefault(r.probe_id, set()).add(r.neighbor_id)

    ann = S.ann_knn_join(probes, emb, "vec_id", "embedding", k=5,
                         nbits=8, n_buckets=64)
    got = {}
    for r in ann.collect():
        got.setdefault(r.probe_id, set()).add(r.neighbor_id)
    assert set(got) == set(exact)
    assert all(len(got[p]) == 5 for p in exact)
    # aggregate recall at this tiny corpus (per-probe floors are the
    # sf0.01+ contract, asserted by the q_ann_topk oracle)
    assert sum(len(got[p] & exact[p]) for p in exact) >= 8

    idx = S.ivf_build(emb, "vec_id", "embedding", n_centroids=8)
    ivf = S.ivf_knn_join(probes, idx, k=5, n_probe=4)
    got_i = {}
    for r in ivf.collect():
        got_i.setdefault(r.probe_id, set()).add(r.neighbor_id)
    assert set(got_i) == set(exact)
    assert all(len(got_i[p] & exact[p]) >= 1 for p in exact)


def test_empty_probe_blocks_return_typed_empty(spark):
    """All collect-and-broadcast paths must survive an empty probe block
    (a filter that matched nothing) with a correctly-typed empty result."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0)
    assert S.knn_join(none, emb, "vec_id", "embedding").count() == 0
    assert S.ann_knn_join(none, emb, "vec_id", "embedding").count() == 0
    assert S.cosine_near_pairs(
        emb, "vec_id", "embedding", 0.4, probe_max_id=-1
    ).count() == 0
    assert S.embedding_near_duplicates(
        emb, "vec_id", "embedding", 0.4, nbits=3, bands=4, probe_max_id=-1
    ).count() == 0


def test_embedding_near_duplicates_equals_exact(spark):
    """Multiband LSH blocking + exact verify reproduces the exact all-pairs
    result at band counts sized for full recall (the q_embed_dedup
    contract)."""
    from h2h_spark.operators.simsearch import cosine_near_pairs, embedding_near_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r.id_a, r.id_b, r.score) for r in cosine_near_pairs(
        emb, "vec_id", "embedding", threshold=0.4, probe_max_id=50
    ).collect()}
    lsh = {(r.id_a, r.id_b, r.score) for r in embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.4, nbits=3, bands=16,
        probe_max_id=50,
    ).collect()}
    assert lsh == exact


def test_portable_minhash_matches_xxhash_semantics(spark, docs=None):
    """The md5 portable base hash changes bucket membership, never
    correctness: output pairs are exactly-verified Jaccard matches under
    both base hashes."""
    from h2h_spark.operators.dedup import jaccard_pairs, minhash_near_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_freq=10_000
    ).collect()}
    for bh in ("xxhash64", "md5"):
        got = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_duplicates(
            docs, "doc_id", "text", jaccard_threshold=0.5, base_hash=bh
        ).collect()}
        assert set(got) <= set(exact)  # banding candidates, exact verify
        assert all(exact[p] == j for p, j in got.items())
        assert len(got) >= 1  # the planted near-dups are found


def test_portable_simhash_60bit(spark):
    """md5-mode SimHash: 60-bit fingerprints, 6 pigeonhole chunks; exact
    duplicates still collide at hamming 0."""
    from h2h_spark.operators.dedup import simhash64, simhash_near_duplicates

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different words entirely")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text", "md5").collect()}
    assert fps[1] == fps[2]
    assert all(0 <= v < (1 << 60) for v in fps.values())
    pairs = simhash_near_duplicates(
        df, "doc_id", "text", max_hamming=3, chunks=6, base_hash="md5"
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_minhash_incremental_excludes_corpus_pairs(spark):
    """Delta-vs-index dedup finds cross and delta-delta pairs but never
    regenerates corpus-corpus pairs."""
    from h2h_spark.operators.dedup import minhash_dedup_against_index, minhash_index

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base), (2, base),  # corpus-corpus dup: must NOT be re-found
         (3, "totally different words that share nothing at all here")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, base),  # dups of corpus docs 1 and 2
         (11, "unrelated fresh delta content nothing shared with anyone"),
         (12, base)],  # also pairs with 10 (delta-delta)
        "doc_id long, text string",
    )
    entries, sets = minhash_index(corpus, "doc_id", "text")
    got = {(r.id_a, r.id_b) for r in minhash_dedup_against_index(
        delta, entries, sets, "doc_id", "text", jaccard_threshold=0.9
    ).collect()}
    assert got == {(1, 10), (2, 10), (1, 12), (2, 12), (10, 12)}


def test_connected_components(spark):
    """Min-label propagation: chains and cliques collapse to the min id;
    separate components stay separate."""
    from h2h_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain, {10,11} as a pair, 20-21-22 clique
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r.id: r.rep for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_hash_split_deterministic_and_proportional(spark):
    from h2h_spark.operators.sampling import hash_split

    df = spark.range(10_000).withColumnRenamed("id", "k")
    out = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(
        F.count("*").alias("cnt")).collect()}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150
    assert abs(counts["test"] - 1000) < 150
    # stability: membership of a row never depends on the rest of the data
    sub = hash_split(df.filter(F.col("k") < 100), "k",
                     {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r.k: r.split for r in out.filter(F.col("k") < 100).collect()}
    assert {r.k: r.split for r in sub.collect()} == full


def test_group_cap_sample(spark):
    from h2h_spark.operators.sampling import group_cap_sample

    df = spark.range(1000).selectExpr("id AS k", "id % 3 AS g")
    out = group_cap_sample(df, ["g"], "k", cap=10)
    counts = {r.g: r.cnt for r in out.groupBy("g").agg(
        F.count("*").alias("cnt")).collect()}
    assert counts == {0: 10, 1: 10, 2: 10}
    # deterministic pick
    again = group_cap_sample(df, ["g"], "k", cap=10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_pack_sequences_matches_naive(spark):
    """Distributed two-pass prefix sum == naive single-pass packing,
    regardless of partitioning."""
    from h2h_spark.operators.packing import pack_sequences

    rows = [(i, (i * 37) % 900 + 100) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long").repartition(13)
    got = {r.doc_id: (r.bin, r.bin_offset) for r in pack_sequences(
        df, "doc_id", "n", budget=2048, n_parts=7
    ).collect()}
    cum = 0
    for i, n in rows:
        assert got[i] == (cum // 2048, cum % 2048), i
        cum += n


def test_bpe_token_count(spark):
    from h2h_spark.operators.text import bpe_token_count

    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times"), (2, ""), (3, "a  b")],
        "k long, t string",
    )
    got = {r.k: r.n for r in df.select(
        "k", bpe_token_count("t").alias("n")).collect()}
    # 'Hello' ',' ' world' '!' ' 42' ' times' = 6
    assert got[1] == 6
    assert got[2] == 0
    assert got[3] == 3  # 'a' ' ' (extra space) + ' b'


def test_scrub_pii(spark):
    from h2h_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
         (2, "server at 192.168.10.255 responded"),
         (3, "nothing sensitive here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in scrub_pii(df, "doc_id", "text").collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1
    assert "<EMAIL>" in got[1].scrubbed and "<PHONE>" in got[1].scrubbed
    assert "example" not in got[1].scrubbed and "555" not in got[1].scrubbed
    assert got[2].n_ipv4 == 1 and "<IP>" in got[2].scrubbed
    assert got[3].scrubbed == "nothing sensitive here"
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 0)


def test_repetition_score(spark):
    from h2h_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),    # one distinct trigram
         (2, "all words here are fully unique")], # no repeats
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_score(df, "doc_id", "text").collect()}
    assert got[1].repetition > 0.7
    assert got[2].repetition == 0.0
    assert got[2].n_grams == got[2].n_uniq_grams


def test_decontaminate_finds_planted_overlap(spark):
    from h2h_spark.operators.text import decontaminate

    bench = spark.createDataFrame(
        [(100, "what is the capital of france and why does it matter today")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "trivia night asked what is the capital of france and why "
             "does it matter today in europe"),
         (2, "completely unrelated text about spark partitioning strategies "
             "and shuffle behavior at scale")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_overlap for r in decontaminate(
        train, bench, "doc_id", "text", ngram=8
    ).collect()}
    assert 1 in got and got[1] >= 1
    assert 2 not in got


def test_char_shingles(spark):
    df = spark.createDataFrame([(1, "Hello  World")], "doc_id long, text string")
    out = df.select(D.char_shingles("text", 5).alias("sh")).head()[0]
    assert "hello" in out
    assert "o wor" in out  # normalized single space
    assert all(len(s) <= 5 for s in out)


def test_embedding_near_duplicates_lsh_blocking(spark):
    import numpy as np
    from h2h_spark.operators.simsearch import embedding_near_duplicates

    rng = np.random.default_rng(0)
    base = rng.standard_normal(16)
    rows = []
    for i in range(20):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    # planted near-dup pair: 100/101 nearly identical
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + rng.standard_normal(16) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b): r.score for r in
             embedding_near_duplicates(df, "vec_id", "embedding",
                                       threshold=0.95, nbits=6).collect()}
    assert (100, 101) in pairs
    assert pairs[(100, 101)] > 0.99


# ---------------------------------------------------------------------------
# round 3: LM perplexity, gopher rules, chunking, n-grams, quantization
# ---------------------------------------------------------------------------


def test_bigram_perplexity_ranks_degenerate_text_low(spark):
    # A document made of one repeated bigram is maximally predictable
    # under the corpus model -> lowest perplexity; a one-off word salad
    # scores higher.  Singleton-token docs contribute nothing.
    rows = [
        (1, "spark data " * 30),
        (2, "the quick brown fox jumps over seven lazy dogs"),
        (3, "spark data spark data spark data"),
        (4, "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from h2h_spark.operators import lm as LM

    out = {r.doc_id: r for r in LM.perplexity(df, "doc_id", "text").collect()}
    assert 4 not in out  # < 2 tokens: no bigram
    assert out[1].ppl < out[2].ppl
    assert out[1].n_bigrams == 59
    # ppl is 2**xent of the rounded xent
    assert out[2].ppl == pytest.approx(2 ** out[2].xent, rel=1e-3)


def test_gopher_rules_flags(spark):
    good = " ".join(["sensible"] * 25 + ["words"] * 30)
    bullets = "- a\n- b\n- c"
    symbols = " ".join(["ok##"] * 60)
    rows = [(1, good), (2, bullets), (3, symbols), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.gopher_rules(df, "doc_id", "text").collect()}
    assert out[1].keep is True
    assert out[2].bullet_frac == 1.0 and out[2].keep is False
    assert out[3].symbol_ratio == 1.0 and out[3].keep is False
    assert out[4].n_words == 0 and out[4].keep is False


def test_chunk_documents_coverage_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame([(1, text), (2, "short doc")], "doc_id long, text string")
    chunks = TX.chunk_documents(df, "doc_id", "text", window=64, stride=48).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: n=150 -> 1 + ceil(86/48) = 3 chunks; every token covered
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert [r.n_tokens for r in c1] == [64, 64, 54]
    covered = set()
    for r in c1:
        covered.update(r.chunk_text.split(" "))
    assert covered == {f"w{i}" for i in range(150)}
    # consecutive chunks overlap by window - stride = 16 tokens
    overlap = set(c1[0].chunk_text.split(" ")) & set(c1[1].chunk_text.split(" "))
    assert len(overlap) == 16
    assert [r.n_tokens for r in by_doc[2]] == [2]


def test_top_ngrams_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b b b"), (2, "a a a")], "doc_id long, text string"
    )
    out = TX.top_ngrams(df, "text", n=2, k=4).collect()
    # counts equal -> gram-ascending order
    assert [(r.gram, r.cnt) for r in out] == [("a a", 2), ("b b", 2)]


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale-0 guard
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in S.quantize_embeddings(df, "vec_id", "embedding").collect()}
    r1 = out[1]
    assert r1.dim == 4
    # scale = 1.0/127; mse bounded by (scale/2)^2
    assert r1.scale == pytest.approx(1.0 / 127, abs=1e-6)
    assert r1.recon_mse <= (1.0 / 127 / 2) ** 2 + 1e-12
    r2 = out[2]
    assert r2.scale == 0.0 and r2.recon_mse == 0.0


def test_asof_join_forward_and_tolerance(spark):
    from h2h_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 250), (3, 2, 100)], "event_id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 120, 10.0), (1, 300, 20.0), (2, 90, 30.0)], "k long, rts long, val double"
    )
    fwd = {r.event_id: r.val for r in asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        value_cols=["val"], direction="forward",
    ).collect()}
    # event 1: next right at 120 -> 10.0; event 2: next at 300 -> 20.0;
    # event 3: right at 90 < 100, nothing forward -> NULL
    assert fwd == {1: 10.0, 2: 20.0, 3: None}
    tol = {r.event_id: r.val for r in asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        value_cols=["val"], direction="forward", tolerance=30,
    ).collect()}
    # tolerance 30: event 2's nearest (300, diff 50) is out of range
    assert tol == {1: 10.0, 2: None, 3: None}
    back_tol = {r.event_id: r.val for r in asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts",
        value_cols=["val"], direction="backward", tolerance=15,
    ).collect()}
    # backward, tolerance 15: event 3 (ts 100, right 90, diff 10) is in
    # range; event 1 has no backward match at all; event 2's nearest
    # (120, diff 130) is out
    assert back_tol == {1: None, 2: None, 3: 30.0}


def test_resample_ffill_fills_gaps(spark):
    from h2h_spark.operators.timeseries import resample_ffill

    rows = [
        (1, 10, 1.0),    # bucket 0
        (1, 25, 2.0),    # bucket 0 (later ts wins the bucket)
        (1, 95, 5.0),    # bucket 3 -> buckets 1,2 forward-fill 2.0
        (2, 200, 9.0),   # single bucket
    ]
    df = spark.createDataFrame(rows, "k long, ts long, v double")
    out = {(r.k, r.bucket_ts): r.value for r in
           resample_ffill(df, "k", "ts", "v", 30).collect()}
    assert out == {
        (1, 0): 2.0, (1, 30): 2.0, (1, 60): 2.0, (1, 90): 5.0,
        (2, 180): 9.0,
    }


def test_rolling_time_sum_trailing_window(spark):
    from h2h_spark.operators.timeseries import rolling_time_sum

    rows = [(1, 0, 10.0), (1, 50, 20.0), (1, 120, 40.0), (2, 0, 7.0)]
    df = spark.createDataFrame(rows, "k long, ts long, v double")
    out = {(r.k, r.ts): r.rolling_sum for r in
           rolling_time_sum(df, "k", "ts", "v", 100).collect()}
    # ts 120: frame [20,120] includes 50 and 120 but not 0
    assert out == {(1, 0): 10.0, (1, 50): 30.0, (1, 120): 60.0, (2, 0): 7.0}


def test_span_duplication_detects_shared_boilerplate(spark):
    shared = "this legal disclaimer appears verbatim in many documents today"
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, shared + " one two three four five six seven eight"),
        (3, "entirely unique content with no repeated spans at all here ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.span_duplication(df, "doc_id", "text", span=9, min_docs=2).collect()}
    # the 9-token shared prefix is span 0 of docs 1 and 2
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    assert out[3].n_dup_spans == 0 and out[3].dup_fraction == 0.0
    assert out[1].dup_fraction == 0.5


def test_compact_reduces_file_count_preserving_rows(spark, tmp_path):
    from h2h_spark.sources.compact import compact
    from h2h_spark.sources.util import list_part_files

    src = str(tmp_path / "scatter")
    dst = str(tmp_path / "packed")
    spark.range(10000).selectExpr("id", "id * 2 AS v").repartition(40) \
        .write.parquet(src)
    n_out = compact(spark, src, dst, target_bytes=1 << 30)
    assert len(list_part_files(src, pattern="part*")) == 40
    assert n_out == 1
    back = spark.read.parquet(dst)
    assert back.count() == 10000
    assert back.selectExpr("sum(v)").collect()[0][0] == 10000 * 9999


def test_tfidf_keywords_rank_rare_terms_highest(spark):
    rows = [
        (1, "common common zebra"),
        (2, "common common common"),
        (3, "common quagga quagga"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in TX.tfidf_keywords(df, "doc_id", "text", top_k=2).collect():
        out.setdefault(r.doc_id, []).append((r.rank, r.term))
    # doc 1: common tf=2 * idf 1.0 = 2.0 beats zebra 1 * (ln(2)+1) = 1.69
    assert sorted(out[1]) == [(1, "common"), (2, "zebra")]
    # doc 3: quagga tf=2 AND rare (3.39) -> rank 1 over common (1.0)
    assert sorted(out[3]) == [(1, "quagga"), (2, "common")]
    # doc 2 has a single distinct term
    assert sorted(out[2]) == [(1, "common")]


def test_point_interval_join_exact_once(spark):
    from h2h_spark.operators.interval import point_interval_join

    points = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 86500), (3, 1, 700000), (4, 2, 100)],
        "event_id long, k long, ts long",
    )
    intervals = spark.createDataFrame(
        [(10, 1, 0), (11, 1, 86400), (12, 2, 500)],
        "iv_id long, k long, start long",
    )
    out = [(r.iv_id, r.event_id) for r in point_interval_join(
        points, intervals, key="k", point_ts="ts", start_ts="start",
        span_sec=7 * 86400, bucket_sec=86400,
    ).collect()]
    # event 1 (ts 100) in [0, 604800) only; event 2 in both windows;
    # event 3 (700000) only in [86400, 691200); event 4 before interval 12
    assert sorted(out) == [(10, 1), (10, 2), (11, 2)]
    # no duplicates despite the x8 bucket explosion
    assert len(out) == len(set(out))


def test_vocab_coverage_oov_rate(spark):
    rows = [
        (1, "aa aa aa bb"),   # aa, bb both in top-2 vocab
        (2, "aa zz qq"),      # zz/qq are OOV
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.vocab_coverage(df, "doc_id", "text", vocab_size=2).collect()}
    assert out[1].n_oov == 0 and out[1].oov_rate == 0.0
    assert out[2].n_tokens == 3 and out[2].n_oov == 2
    assert out[2].oov_rate == pytest.approx(0.6667, abs=1e-4)


def test_ann_indexed_prunes_partitions_and_matches_inmemory(spark, tmp_path):
    from h2h_spark.operators.simsearch import (
        ann_index_write,
        ann_knn_join,
        ann_knn_join_indexed,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ann_idx")
    ann_index_write(emb, path, "vec_id", "embedding", dim=16, nbits=6)
    # partition pruning is visible in the scan: a bucket filter becomes
    # PartitionFilters, not a post-scan Filter
    scan = spark.read.parquet(path).filter(F.col("bucket").isin(1, 2, 3))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    # same candidates/ranking as the in-memory ANN at identical params
    probes = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        (r.probe_id, r.rank, r.neighbor_id)
        for r in ann_knn_join_indexed(
            spark, path, probes, "vec_id", "embedding", dim=16, k=5,
            nbits=6, n_buckets=16, round_digits=3,
        ).collect()
    )
    ref = sorted(
        (r.probe_id, r.rank, r.neighbor_id)
        for r in ann_knn_join(
            probes, emb, "vec_id", "embedding", k=5, nbits=6, n_buckets=16,
            round_digits=3,
        ).collect()
    )
    assert got == ref and len(got) > 0


# ---------------------------------------------------------------- cluster ops


def test_centroid_assign_nearest_and_tiebreak(spark):
    from h2h_spark.operators.cluster import centroid_assign

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [10.0, 10.0]), (3, [5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.0])],
        "label int, cvec array<double>",
    )
    out = {
        r["vec_id"]: (r["assigned"], r["dist_sq"])
        for r in centroid_assign(vecs, "vec_id", "embedding", cents, "label", "cvec").collect()
    }
    assert out[1][0] == 0 and out[2][0] == 1
    # vec 3 is exactly equidistant: deterministic tie → lowest label
    assert out[3][0] == 0
    assert out[1][1] == pytest.approx(2.0)


def test_centroid_update_recomputes_means(spark):
    from h2h_spark.operators.cluster import centroid_assign, centroid_update

    vecs = spark.createDataFrame(
        [(1, [0.0, 2.0]), (2, [2.0, 0.0]), (3, [10.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "label int, cvec array<double>",
    )
    assigned = centroid_assign(vecs, "vec_id", "embedding", cents, "label", "cvec")
    upd = {
        r["assigned"]: (r["centroid"], r["n_members"])
        for r in centroid_update(vecs, "embedding", assigned, "vec_id", dim=2).collect()
    }
    assert upd[0][1] == 2 and upd[0][0] == [1.0, 1.0]
    assert upd[1][1] == 1 and upd[1][0] == [10.0, 10.0]


def test_centroid_assign_broadcasts_centroids(spark):
    from h2h_spark.operators.cluster import centroid_assign

    vecs = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0])], "label int, cvec array<double>"
    )
    plan = (
        centroid_assign(vecs, "vec_id", "embedding", cents, "label", "cvec")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# --------------------------------------------------------------- audio stats


def test_audio_stats_exact_fixed_point(spark):
    payload = bytes([128, 130, 126, 255, 0, 128])  # mean |x-128| = (0+2+2+127+128+0)/6
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    row = MM.audio_stats(df, "doc_id", sample_rate=8000, clip_margin=6).collect()[0]
    assert row["n_samples"] == 6
    assert row["duration_ms"] == 6 * 1000 // 8000
    assert row["peak"] == 255
    assert row["mean_amp_milli"] == (0 + 2 + 2 + 127 + 128 + 0) * 1000 // 6
    assert row["n_clipped"] == 2  # 255 and 0


def test_audio_stats_empty_payload(spark):
    df = spark.createDataFrame([(1, b"")], "doc_id long, payload binary")
    row = MM.audio_stats(df, "doc_id").collect()[0]
    assert (row["n_samples"], row["peak"], row["mean_amp_milli"], row["n_clipped"]) == (0, 0, 0, 0)


# -------------------------------------------------------------------- funnel


def test_funnel_stage_ordering_strict(spark):
    from h2h_spark.operators.timeseries import funnel_stages

    rows = [
        # user 1: full ordered funnel
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:10:00", "click"),
        (1, "2024-01-01 00:20:00", "purchase"),
        # user 2: click BEFORE first view → click stage not reached
        (2, "2024-01-01 00:05:00", "click"),
        (2, "2024-01-01 00:06:00", "view"),
        # user 3: view only
        (3, "2024-01-01 00:00:00", "view"),
        # user 4: purchase with no view → excluded entirely
        (4, "2024-01-01 00:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_type string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    out = {
        r["user_id"]: r
        for r in funnel_stages(ev, "user_id", "ts", "event_type",
                               ["view", "click", "purchase"]).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["purchase_ts"] is not None
    assert out[2]["click_ts"] is None
    assert out[3]["click_ts"] is None and out[3]["purchase_ts"] is None


def test_kmeans_fit_separates_blobs(spark):
    from h2h_spark.operators.cluster import kmeans_fit

    # two well-separated blobs; ids interleaved so seeding picks one of each
    rows = [(1, [0.0, 0.1]), (2, [10.0, 9.9]), (3, [0.2, 0.0]),
            (4, [9.8, 10.0]), (5, [0.1, 0.2]), (6, [10.1, 10.2])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents, n_it = kmeans_fit(vecs, "vec_id", "embedding", k=2, max_iter=10)
    got = {r["vec_id"]: r["assigned"] for r in assigned.collect()}
    assert got[1] == got[3] == got[5]
    assert got[2] == got[4] == got[6]
    assert got[1] != got[2]
    assert n_it <= 4  # blobs converge immediately
    lo = cents[got[1]]
    assert abs(lo[0] - 0.1) < 0.01 and abs(lo[1] - 0.1) < 0.01


def test_apply_takedown_removes_listed_and_banned(spark):
    from h2h_spark.operators.text import apply_takedown

    docs = spark.createDataFrame(
        [(1, "clean text"), (2, "contains banned phrase here"), (3, "also clean")],
        "doc_id long, text string",
    )
    removal = spark.createDataFrame([(3,)], "doc_id long")
    out = apply_takedown(docs, "doc_id", "text", removal, ["banned phrase"])
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_centroid_assign_blas_matches_expression_path(spark):
    from h2h_spark.operators.cluster import centroid_assign, centroid_assign_blas

    # quantized deterministic vectors -> distances well-separated, both
    # paths must agree exactly on the argmin
    vecs = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(201)) - 100) / 100.0,
        ).cast("array<float>").alias("embedding"),
    )
    cmat = [
        [float(x) for x in r["embedding"]]
        for r in vecs.orderBy("vec_id").limit(8).collect()
    ]
    cdf = spark.createDataFrame(
        list(enumerate(cmat)), "label int, cvec array<double>"
    )
    expr = {
        r["vec_id"]: r["assigned"]
        for r in centroid_assign(vecs, "vec_id", "embedding", cdf, "label", "cvec").collect()
    }
    blas = {
        r["vec_id"]: r["assigned"]
        for r in centroid_assign_blas(vecs, "vec_id", "embedding", cmat).collect()
    }
    assert expr == blas


def test_mix_to_token_budget_hits_target_shares(spark):
    from h2h_spark.operators.sampling import mix_to_token_budget

    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, "code").otherwise("web").alias("src"),
        F.lit(100).alias("cost"),
    )
    # web holds 150k cost, code 50k; a 100k budget at 50/50 target should
    # keep ~1/3 of web and all of code (rate capped at 1.0).
    kept = mix_to_token_budget(
        df, "src", "id", "cost", budget=100_000,
        weights={"web": 0.5, "code": 0.5},
    )
    by = {r["src"]: r["n"] for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert by["code"] == 500  # rate 1.0: every code row survives
    assert 400 <= by["web"] <= 600  # ~500 of 1500 at rate 1/3 (hash spread)
    # deterministic: same call, same membership
    again = mix_to_token_budget(
        df, "src", "id", "cost", budget=100_000,
        weights={"web": 0.5, "code": 0.5},
    )
    assert sorted(r["id"] for r in kept.collect()) == sorted(
        r["id"] for r in again.collect()
    )


def test_mix_to_token_budget_unknown_stratum_drops(spark):
    from h2h_spark.operators.sampling import mix_to_token_budget

    df = spark.range(100).select(
        F.col("id"), F.lit("other").alias("src"), F.lit(10).alias("cost")
    )
    kept = mix_to_token_budget(df, "src", "id", "cost", budget=1000, weights={"web": 1.0})
    assert kept.count() == 0


def test_profile_columns_single_pass(spark):
    from h2h_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")], "k long, s string"
    )
    out = {r["column"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert out["k"]["n_rows"] == 4
    assert out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 2
    assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "2"
    assert out["s"]["n_nulls"] == 1
    assert out["s"]["n_distinct"] == 2
    assert out["s"]["min_value"] == "a" and out["s"]["max_value"] == "b"


def test_incremental_agg_fold_equals_one_shot(spark):
    from h2h_spark.operators.incremental import agg_state, merge_agg_state

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 0.01 + 1).alias("v"),
    )
    full = {
        (r["k"]): (r["n_rows"], float(r["v_sum"]))
        for r in agg_state(df, ["k"], {"v": "decimal(18,2)"}).collect()
    }
    # fold three arbitrary delta batches — any split must converge
    parts = [df.filter(F.col("id") % 3 == i) for i in range(3)]
    state = agg_state(parts[0], ["k"], {"v": "decimal(18,2)"})
    for p in parts[1:]:
        state = merge_agg_state(state, agg_state(p, ["k"], {"v": "decimal(18,2)"}), ["k"])
    folded = {
        (r["k"]): (r["n_rows"], float(r["v_sum"])) for r in state.collect()
    }
    assert folded == full


def test_cms_overestimates_and_merges(spark):
    from h2h_spark.operators.sketch import cms_build, cms_estimate

    df = spark.range(3000).select((F.col("id") % 50).alias("k"))
    sketch = cms_build(df, "k", depth=4, width=64)
    keys = df.select("k").distinct()
    est = {r["k"]: r["est"] for r in cms_estimate(sketch, keys, "k", depth=4, width=64).collect()}
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    # CMS never under-counts
    assert all(est[k] >= exact[k] for k in exact)
    # fixed state: at most depth*width cells
    assert sketch.count() <= 4 * 64
    # mergeable: build(half1) + build(half2) == build(all), cell-wise
    h1 = cms_build(df.filter(F.col("id") % 2 == 0), "k", depth=4, width=64)
    h2 = cms_build(df.filter(F.col("id") % 2 == 1), "k", depth=4, width=64)
    merged = h1.unionByName(h2).groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    full = {(r["r"], r["c"]): r["cnt"] for r in sketch.collect()}
    folded = {(r["r"], r["c"]): r["cnt"] for r in merged.collect()}
    assert folded == full


def test_time_rollup_grains_consistent(spark):
    from h2h_spark.operators.timeseries import time_rollup

    rows = [
        ("2024-01-01 00:10:00", "a", 1.0),
        ("2024-01-01 00:50:00", "a", 2.0),
        ("2024-01-01 01:10:00", "a", 4.0),
        ("2024-02-01 00:00:00", "b", 8.0),
    ]
    df = spark.createDataFrame(rows, "ts string, g string, v double").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "g", "v"
    )
    out = time_rollup(
        df, "ts", ["g"], ["SUM(v) AS sv", "COUNT(*) AS n"],
        levels=("hour", "day", "month"),
    ).collect()
    by = {(r["grain"], str(r["bucket_ts"]), r["g"]): (r["sv"], r["n"]) for r in out}
    # hour grain splits Jan-1 'a' into two buckets; day and month re-sum it
    assert by[("hour", "2024-01-01 00:00:00", "a")] == (3.0, 2)
    assert by[("hour", "2024-01-01 01:00:00", "a")] == (4.0, 1)
    assert by[("day", "2024-01-01 00:00:00", "a")] == (7.0, 3)
    assert by[("month", "2024-01-01 00:00:00", "a")] == (7.0, 3)
    assert by[("month", "2024-02-01 00:00:00", "b")] == (8.0, 1)
    # every grain covers the same total row mass
    for lv in ("hour", "day", "month"):
        assert sum(n for (g, _, _), (_, n) in by.items() if g == lv) == 4


def test_iqr_filter_drops_only_fence_violations(spark):
    from h2h_spark.operators.profile import iqr_filter

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 100]] + [("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    kept = iqr_filter(df, ["g"], "v", k=1.5)
    got = sorted((r["g"], r["v"]) for r in kept.collect())
    # group a: q1=2.25 q3=4.75 iqr=2.5 -> fences [-1.5, 8.5]: 100 dropped
    # group b: single value is its own quartiles -> always kept
    assert got == [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0), ("b", 7.0)]


# ---------------- real media container-header parsing ------------------


def test_parse_media_header_synthesized_roundtrip():
    """Every synthesized container parses back to its seed arithmetic."""
    for seed in [0, 1, 2, 3, 100, 511, 512, 1023, 99999]:
        m = MM.parse_media_header(MM.synthesize_media(seed))
        assert m is not None
        k = seed % 3
        if k == 0:
            assert m["kind"] == "png"
            assert m["width"] == seed % 512 + 1
            assert m["height"] == (seed * 7) % 512 + 1
        elif k == 1:
            assert m["kind"] == "wav"
            assert m["sample_rate"] == 8000 + (seed % 8) * 1000
            assert m["n_samples"] == seed % 100 + 1
            assert m["duration_ms"] == m["n_samples"] * 1000 // m["sample_rate"]
            assert m["n_channels"] == 1
        else:
            assert m["kind"] == "gif"
            assert m["width"] == seed % 256 + 1
            assert m["height"] == (seed * 3) % 256 + 1


def test_parse_media_header_jpeg_and_bmp():
    import struct

    # minimal JPEG: SOI, APP0 (skipped by the marker walk), SOF0 with
    # height=480 width=640, 3 components
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + b"\x01\x11\x00" * 3
    m = MM.parse_media_header(b"\xff\xd8" + app0 + sof)
    assert m and m["kind"] == "jpeg" and (m["width"], m["height"]) == (640, 480)
    # progressive JPEG uses SOF2 (0xC2) — same walk
    sof2 = b"\xff\xc2" + sof[2:]
    m = MM.parse_media_header(b"\xff\xd8" + sof2)
    assert m and m["kind"] == "jpeg" and (m["width"], m["height"]) == (640, 480)
    # BMP with bottom-up negative height
    hdr = b"BM" + b"\x00" * 16 + struct.pack("<ii", 320, -200)
    m = MM.parse_media_header(hdr)
    assert m and m["kind"] == "bmp" and (m["width"], m["height"]) == (320, 200)


def test_parse_media_header_rejects_garbage():
    assert MM.parse_media_header(b"") is None
    assert MM.parse_media_header(b"not media at all, just text") is None
    assert MM.parse_media_header(b"\x89PNGbad") is None
    # RIFF/WAVE with no fmt chunk -> None
    import struct
    bad_wav = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    assert MM.parse_media_header(bad_wav) is None


def test_media_meta_dataframe_stage(spark):
    df = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r for r in MM.media_meta(df, "doc_id").collect()}
    assert len(out) == 30
    assert out[3].kind == "png" and out[3].width == 4 and out[3].height == 22
    assert out[4].kind == "wav" and out[4].sample_rate == 12000 and out[4].n_samples == 5
    assert out[5].kind == "gif" and out[5].width == 6 and out[5].height == 16
    assert out[4].width is None and out[5].sample_rate is None


def test_deterministic_shuffle_partition_invariant_permutation(spark):
    """The epoch shuffle must be a true permutation (0..n-1, each once)
    and bit-identical regardless of how many range partitions computed
    it — global rank is a property of the key order, not the plan."""
    from h2h_spark.operators.sampling import deterministic_shuffle

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    # n_parts <= 256 buckets on 2 hex chars; > 256 on 4 — the permutation
    # must be identical under both bucketings
    a = deterministic_shuffle(docs, "doc_id", seed=7, n_parts=8)
    b = deterministic_shuffle(docs, "doc_id", seed=7, n_parts=1000)
    rows_a = sorted((r.doc_id, r.pos) for r in a.collect())
    rows_b = sorted((r.doc_id, r.pos) for r in b.collect())
    assert rows_a == rows_b
    assert sorted(p for _, p in rows_a) == list(range(n))
    # a different seed draws a different permutation
    c = deterministic_shuffle(docs, "doc_id", seed=8, n_parts=8)
    assert sorted((r.doc_id, r.pos) for r in c.collect()) != rows_a


def test_bm25_matches_reference_formula(spark):
    """BM25 on a 3-doc toy corpus vs hand-computed Lucene-idf scores."""
    import math

    from h2h_spark.operators.ranking import bm25_scores

    rows = [
        (1, "spark shuffle join join"),
        (2, "join once"),
        (3, "no relevant terms here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.score for r in bm25_scores(df, "doc_id", "text", ["join"]).collect()}
    # N=3, df(join)=2, idf = ln(1 + (3-2+0.5)/(2+0.5)); avgdl = (4+2+4)/3
    idf = math.log(1 + 1.5 / 2.5)
    avgdl = 10 / 3

    def s(tf, dl):
        return round(round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6), 4)

    assert got == {1: s(2, 4), 2: s(1, 2)}  # doc 3 absent


def test_inverted_index_counts(spark):
    from h2h_spark.operators.ranking import inverted_index

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c c c")], "doc_id long, text string"
    )
    got = {r.term: (r.df, r.total_tf, r.first_doc) for r in
           inverted_index(df, "doc_id", "text").collect()}
    assert got == {"a": (1, 2, 1), "b": (2, 2, 1), "c": (2, 4, 2)}
    assert {r.term for r in inverted_index(df, "doc_id", "text", min_df=2).collect()} == {"b", "c"}


def test_semantic_dedup_drops_within_cluster_only(spark):
    """Two identical vectors in the same cluster → larger id dropped;
    orthogonal vectors keep; cluster ids deterministic (smallest-id
    centroids in id order)."""
    from h2h_spark.operators.simsearch import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),   # centroid 0
        (1, [0.0, 1.0]),   # centroid 1
        (2, [1.0, 0.01]),  # cluster 0, near-dup of 0
        (3, [0.01, 1.0]),  # cluster 1, near-dup of 1
        (4, [-1.0, 0.6]),  # cluster 1 (cos to c1 = .51 vs c0 -.86), no dup >= .95
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cluster, r.keep) for r in
           semantic_dedup(df, "vec_id", "embedding", n_clusters=2, threshold=0.95).collect()}
    assert out == {0: (0, True), 1: (1, True), 2: (0, False), 3: (1, False), 4: (1, True)}


def test_scd2_merge_branches(spark):
    """All four SCD2 branches: history pass-through, unchanged current,
    close+reopen, new-key insert."""
    import datetime

    from h2h_spark.operators.incremental import scd2_merge

    d = datetime.date
    dim = spark.createDataFrame(
        [
            (1, 10.0, d(2019, 1, 1), d(2020, 1, 1)),  # closed history
            (1, 11.0, d(2020, 1, 1), None),           # will change
            (2, 20.0, d(2020, 1, 1), None),           # unchanged (same-value update)
            (3, 30.0, d(2020, 1, 1), None),           # no update at all
        ],
        "k long, v double, valid_from date, valid_to date",
    )
    upd = spark.createDataFrame(
        [(1, 12.0, d(2024, 6, 1)), (2, 20.0, d(2024, 6, 1)), (9, 90.0, d(2024, 6, 1))],
        "k long, v double, eff_date date",
    )
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in scd2_merge(dim, upd, "k", ["v"]).collect()
    )
    assert got == [
        (1, 10.0, d(2019, 1, 1), d(2020, 1, 1)),
        (1, 11.0, d(2020, 1, 1), d(2024, 6, 1)),
        (1, 12.0, d(2024, 6, 1), None),
        (2, 20.0, d(2020, 1, 1), None),
        (3, 30.0, d(2020, 1, 1), None),
        (9, 90.0, d(2024, 6, 1), None),
    ]


def test_retention_cohort_triangle(spark):
    import datetime

    from h2h_spark.operators.timeseries import retention_cohort

    dt = datetime.datetime
    rows = [
        (1, dt(2024, 1, 1, 9)),   # Mon w0 cohort
        (1, dt(2024, 1, 2, 9)),   # same week — deduped
        (1, dt(2024, 1, 8, 9)),   # w+1
        (2, dt(2024, 1, 3, 9)),   # w0 cohort
        (3, dt(2024, 1, 10, 9)),  # w1 cohort
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r.cohort), r.offset): r.n_users for r in
           retention_cohort(df, "user_id", "ts").collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_perplexity_buckets_partition_thirds(spark):
    """Buckets cover the corpus, thirds are balanced (±1 at exact
    percentile cutoffs), and head avg < tail avg."""
    from h2h_spark.operators.lm import perplexity_buckets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    out = {r.bucket: r for r in perplexity_buckets(docs, "doc_id", "text").collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert sum(r.n_docs for r in out.values()) == n
    assert max(r.n_docs for r in out.values()) - min(r.n_docs for r in out.values()) <= max(2, n // 10)
    assert out["head"].avg_ppl < out["tail"].avg_ppl
    assert out["head"].max_ppl <= out["middle"].min_ppl
    assert out["middle"].max_ppl <= out["tail"].min_ppl


def test_event_transitions_probabilities(spark):
    import datetime

    from h2h_spark.operators.paths import event_transitions

    dt = datetime.datetime
    rows = [
        (1, 1, dt(2024, 1, 1, 9, 0), "a"),
        (2, 1, dt(2024, 1, 1, 9, 1), "b"),
        (3, 1, dt(2024, 1, 1, 9, 2), "a"),
        (4, 1, dt(2024, 1, 1, 9, 3), "c"),
        (5, 2, dt(2024, 1, 1, 9, 0), "a"),
        (6, 2, dt(2024, 1, 1, 9, 1), "b"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {(r.cur_event, r.next_event): (r.n, r.p) for r in
           event_transitions(df, "user_id", "ts", "event_type", "event_id").collect()}
    # from 'a': a->b twice, a->c once; from 'b': b->a once
    assert got == {("a", "b"): (2, 0.6667), ("a", "c"): (1, 0.3333), ("b", "a"): (1, 1.0)}


def test_top_paths_sessions_and_depth(spark):
    import datetime

    from h2h_spark.operators.paths import top_paths

    dt = datetime.datetime
    rows = [
        # user 1, session 1: a>b>c>d (depth cap 3 → a>b>c)
        (1, 1, dt(2024, 1, 1, 9, 0), "a"),
        (2, 1, dt(2024, 1, 1, 9, 1), "b"),
        (3, 1, dt(2024, 1, 1, 9, 2), "c"),
        (4, 1, dt(2024, 1, 1, 9, 3), "d"),
        # user 1, session 2 (90-min gap): a>b
        (5, 1, dt(2024, 1, 1, 11, 0), "a"),
        (6, 1, dt(2024, 1, 1, 11, 1), "b"),
        # user 2: a>b>c
        (7, 2, dt(2024, 1, 1, 9, 0), "a"),
        (8, 2, dt(2024, 1, 1, 9, 1), "b"),
        (9, 2, dt(2024, 1, 1, 9, 2), "c"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = [(r.path, r.n) for r in
           top_paths(df, "user_id", "ts", "event_type", "event_id", depth=3, k=5).collect()]
    assert got == [("a>b>c", 2), ("a>b", 1)]


def test_classifier_score_matches_python_model(spark):
    """classifier_score == serial md5-hash pseudo-model evaluation."""
    import hashlib
    import math
    import re

    from h2h_spark.operators.text import classifier_score

    docs = [(1, "Alpha beta gamma!"), (2, "beta beta"), (3, "???")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.score, r.label) for r in
           classifier_score(df, "doc_id", "text", dim=64, seed=7).collect()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    naive = {}
    for i, t in docs:
        toks = re.findall(r"[a-z0-9]+", t.lower())
        if not toks:
            continue  # no tokens -> absent (no explode rows)
        ws = [round((h60(f"7|{h60(w) % 64}") % 2001 - 1000) / 1000.0, 6) for w in toks]
        z = round(sum(ws) / len(toks), 6)
        s = round(1.0 / (1.0 + math.exp(-z)), 4)
        naive[i] = (len(toks), s, s >= 0.5)
    assert got == naive


def test_last_touch_attribution(spark):
    import datetime

    from h2h_spark.operators.paths import last_touch_attribution

    dt = datetime.datetime
    rows = [
        (1, 1, dt(2024, 1, 1, 9, 0), "ad"),
        (2, 1, dt(2024, 1, 1, 9, 1), "email"),
        (3, 1, dt(2024, 1, 1, 9, 2), "purchase"),   # -> email
        (4, 1, dt(2024, 1, 1, 9, 3), "purchase"),   # still -> email (prior purchase skipped)
        (5, 2, dt(2024, 1, 1, 9, 0), "purchase"),   # -> (none)
        (6, 3, dt(2024, 1, 1, 9, 0), "ad"),
        (7, 3, dt(2024, 1, 1, 9, 1), "purchase"),   # -> ad
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {r.channel: r.n_conversions for r in last_touch_attribution(
        df, "user_id", "ts", "event_type", "event_id", conversion="purchase").collect()}
    assert got == {"email": 2, "ad": 1, "(none)": 1}


def test_bmp_codec_roundtrip_and_errors():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        decode_bmp, encode_bmp, parse_media_header, resize_nearest,
    )

    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (5, 3), (7, 4), (16, 16)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(img)
        assert np.array_equal(decode_bmp(payload), img)
        # the container header parser agrees with the codec
        meta = parse_media_header(payload)
        assert meta["kind"] == "bmp" and meta["width"] == w and meta["height"] == h
    # identity resize
    img = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
    assert np.array_equal(resize_nearest(img, 9, 6), img)
    # loud failure on unsupported flavors
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"not a bitmap")


def test_bmp_resize_stats_matches_closed_form(spark):
    from h2h_spark.operators.multimodal import bmp_resize_stats

    df = spark.range(1, 40).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: (r.src_w, r.src_h, r.pix_sum) for r in
           bmp_resize_stats(df, "doc_id").collect()}
    for seed in range(1, 40):
        h, w = seed % 13 + 4, (seed * 5) % 13 + 4
        s = sum(
            3 * ((3 * (r2 * h // 16) + 5 * (c2 * w // 16) + seed) % 256)
            for r2 in range(16) for c2 in range(16)
        )
        assert got[seed] == (w, h, s)


def test_png_codec_all_filters_roundtrip():
    import numpy as np
    import pytest as _pytest

    from h2h_spark.operators.multimodal import (
        decode_png, encode_png, parse_media_header,
    )

    rng = np.random.default_rng(9)
    for h, w in [(1, 1), (5, 5), (6, 11), (16, 4)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for mode in ("mixed", "none"):
            payload = encode_png(img, filter_mode=mode)
            assert np.array_equal(decode_png(payload), img), (h, w, mode)
        meta = parse_media_header(encode_png(img))
        assert meta["kind"] == "png" and meta["width"] == w and meta["height"] == h
    with _pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot really")


def test_png_resize_stats_matches_bmp_path(spark):
    """PNG and BMP pipelines decode the SAME gradient — identical stats."""
    from h2h_spark.operators.multimodal import bmp_resize_stats, png_resize_stats

    df = spark.range(1, 25).withColumnRenamed("id", "doc_id")
    a = sorted((r.doc_id, r.src_w, r.src_h, r.pix_sum)
               for r in bmp_resize_stats(df, "doc_id").collect())
    b = sorted((r.doc_id, r.src_w, r.src_h, r.pix_sum)
               for r in png_resize_stats(df, "doc_id").collect())
    assert a == b


def test_gif_codec_roundtrip_and_header():
    import numpy as np
    import pytest as _pytest

    from h2h_spark.operators.multimodal import (
        decode_gif_gray, encode_gif_gray, parse_media_header,
    )

    rng = np.random.default_rng(4)
    for h, w in [(1, 1), (7, 5), (16, 16), (3, 300)]:
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        payload = encode_gif_gray(img)
        assert np.array_equal(decode_gif_gray(payload), img)
        meta = parse_media_header(payload)
        assert meta["kind"] == "gif" and meta["width"] == w and meta["height"] == h
    with _pytest.raises(ValueError):
        decode_gif_gray(b"GIF89a\x00")


def test_gif_lzw_decoder_handles_real_compression():
    """The decoder must invert a REAL greedy-LZW compressor (dictionary
    growth, width bumps, KwKwK case) — not only the uncompressed-GIF
    clear-code stream our encoder emits."""
    import numpy as np

    from h2h_spark.operators.multimodal import _lzw_decode

    def lzw_compress(indices, min_code=8):
        CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(1 << min_code)}
        next_code = EOI + 1
        width = min_code + 1
        codes = [CLEAR]
        cur = b""
        for px in indices:
            nxt = cur + bytes([px])
            if nxt in table:
                cur = nxt
            else:
                codes.append(table[cur])
                # encoder must bump width when the DECODER's table hits
                # 2^width after this assignment
                table[nxt] = next_code
                next_code += 1
                if next_code == (1 << width) + 1 and width < 12:
                    width_bump_at = len(codes)  # noqa: F841 (documentation)
                cur = bytes([px])
        codes.append(table[cur])
        codes.append(EOI)
        # re-emit with correct width schedule (decoder-synchronized)
        acc = n_bits = 0
        out = bytearray()
        width = min_code + 1
        table_size = EOI + 1
        for i, code in enumerate(codes):
            acc |= code << n_bits
            n_bits += width
            while n_bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                n_bits -= 8
            if i == 0:
                continue  # clear code: decoder table still at base size
            if i < len(codes) - 1 and i >= 2:
                table_size += 1
                if table_size == (1 << width) and width < 12:
                    width += 1
            elif i == 1:
                pass  # first data code adds nothing
        if n_bits:
            out.append(acc & 0xFF)
        return bytes(out)

    # KwKwK stress: long runs force cur+px repeats; random tail grows dict
    rng = np.random.default_rng(11)
    data = ([7] * 50 + [7, 8] * 30 + list(rng.integers(0, 256, 3000)))
    got = _lzw_decode(lzw_compress(data), 8, len(data))
    assert got == [int(x) for x in data]


# ---------------------------------------------------------------------------
# global rank / graph analytics
# ---------------------------------------------------------------------------


def test_global_rank_matches_row_number(spark):
    from h2h_spark.operators.rank import global_rank

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 101).alias("key")
    )
    got = {
        r["id"]: r["rank"]
        for r in global_rank(
            df, [("key", True), ("id", False)], n_parts=7
        ).collect()
    }
    rows = sorted(df.collect(), key=lambda r: (r["key"], -r["id"]))
    want = {r["id"]: i + 1 for i, r in enumerate(rows)}
    assert got == want


def test_global_rank_never_single_partition_window(spark):
    from h2h_spark.operators.rank import global_rank

    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("k"))
    plan = global_rank(df, [("k", True), ("id", True)], n_parts=4)._jdf.queryExecution().executedPlan().toString()
    # the local window partitions by __p — no global (empty-partition) Window
    assert "SinglePartition" not in plan


def test_pagerank_fixed_point_tiny_graph(spark):
    from h2h_spark.operators.graph import SCALE, pagerank

    # 1→2, 1→3, 2→3, 3→1: hand-check one round of the integer recurrence
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    base = 15 * SCALE // 100
    r0 = SCALE
    assert got[1] == base + 85 * (r0 // 1) // 100          # from 3
    assert got[2] == base + 85 * (r0 // 2) // 100          # from 1 (deg 2)
    assert got[3] == base + 85 * (r0 // 2 + r0 // 1) // 100  # from 1 and 2


def test_pagerank_mass_conservation_no_dangling(spark):
    from h2h_spark.operators.graph import SCALE, pagerank

    # ring graph: every node out-degree 1, no dangling → total mass is
    # (nearly) preserved each round up to per-node floor losses < 100 units
    n = 12
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    ranks = pagerank(edges, iterations=4).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - n * SCALE) < n * 100
    # symmetric ring → identical rank everywhere
    assert len({r["rank"] for r in ranks}) == 1


def test_triangle_count_known_graphs(spark):
    from h2h_spark.operators.graph import triangle_count

    # K4 has 4 triangles; duplicate/reversed/self edges must not count
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    k4 += [(0, 0), (1, 1)]
    df = spark.createDataFrame(k4, "a long, b long")
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)

    # two triangles sharing one edge: 0-1-2 and 1-2-3
    df2 = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)], "a long, b long"
    )
    row2 = triangle_count(df2).collect()[0]
    assert (row2["n_edges"], row2["n_triangles"]) == (5, 2)


def test_prefix_filter_join_is_complete_vs_brute_force(spark):
    """Pairs whose every shared shingle is corpus-frequent are exactly the
    ones a doc-freq cap drops; prefix filtering must keep them."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    # 30 near-identical docs sharing all their shingles (high doc freq)
    for i in range(30):
        rows.append((i, base + (" iota" if i % 2 else "")))
    # plus some unrelated docs
    for i in range(30, 40):
        rows.append((i, f"unique{i} words{i} only{i} here{i} now{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.prefix_filter_pairs(
            df, "doc_id", "text", shingle_k=4, threshold=0.5
        ).collect()
    )

    # brute force over all pairs
    import itertools

    def shingles(t):
        toks = [w for w in t.lower().split() if w]
        if len(toks) < 4:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)}

    sets = {i: shingles(t) for i, t in rows}
    want = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = round(inter / union, 4)
        if j >= 0.5:
            want.append((a, b, j))
    assert got == sorted(want)
    assert len(want) >= 30 * 29 // 4  # the frequent-token family did pair up


def test_jpeg_codec_block_constant_bit_exact():
    from h2h_spark.operators.multimodal import (
        decode_jpeg_gray, encode_jpeg_gray, synthesize_jpeg)

    for seed in (0, 5, 123, 999, 4999):
        bh, bw = seed % 3 + 2, (seed * 5) % 4 + 2
        bi = np.arange(bh)[:, None]
        bj = np.arange(bw)[None, :]
        img = np.kron(
            ((3 * bi + 5 * bj + seed) % 256).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )
        assert np.array_equal(decode_jpeg_gray(synthesize_jpeg(seed)), img)
    # dims must be multiples of 8 — loud, never padding silently
    with pytest.raises(ValueError):
        encode_jpeg_gray(np.zeros((10, 16), dtype=np.uint8))


def test_jpeg_codec_random_image_and_byte_stuffing():
    from h2h_spark.operators.multimodal import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (48, 64)).astype(np.uint8)
    payload = encode_jpeg_gray(img)
    # entropy-coded segment of a random image certainly stuffs 0xFF bytes
    scan = payload[payload.index(b"\xff\xda") + 14 : -2]
    assert b"\xff\x00" in scan
    dec = decode_jpeg_gray(payload)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4  # quant=1


def test_jpeg_decoder_rejects_unsupported():
    from h2h_spark.operators.multimodal import decode_jpeg_gray, encode_jpeg_gray

    payload = bytearray(encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8)))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC2  # progressive
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x01\x02")


def test_jpeg_resize_stats_matches_closed_form(spark):
    from h2h_spark.operators.multimodal import jpeg_resize_stats

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    rows = jpeg_resize_stats(docs, "doc_id", out_w=16, out_h=16).collect()
    assert len(rows) == 40
    for r in rows:
        seed = r["doc_id"]
        h, w = 8 * (seed % 3 + 2), 8 * ((seed * 5) % 4 + 2)
        want = sum(
            (3 * (((rr * h) // 16) // 8) + 5 * (((cc * w) // 16) // 8) + seed)
            % 256
            for rr in range(16)
            for cc in range(16)
        )
        assert (r["src_w"], r["src_h"], r["pix_sum"]) == (w, h, want)


def _ref_bpe(texts, k):
    """Plain-Python reference BPE trainer (greedy leftmost application)."""
    import collections
    import re

    words = collections.Counter()
    for t in texts:
        for w in re.split("[^a-z0-9]+", t.lower()):
            if w:
                words[w] += 1
    syms = {w: list(w) for w in words}
    rules = []
    for step in range(1, k + 1):
        pc = collections.Counter()
        for w, f in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        mc = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == mc)[0]
        rules.append((step, a, b, pc[(a, b)]))
        for w in syms:
            s = syms[w]
            out = [s[0]]
            for x in s[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return rules, syms


def test_bpe_train_matches_reference(spark):
    from h2h_spark.operators.bpe import bpe_train

    texts = [
        "the quick brown fox jumps over the lazy dog the the",
        "hello world hello spark hello the quick end",
        "a b c aa bb the fox fox fox",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(df, "text", merges=6, max_words=500).collect()]
    want, _ = _ref_bpe(texts, 6)
    assert got == want


def test_bpe_fold_handles_overlapping_pairs(spark):
    """'a a a a a a' must merge to 'aa aa aa' — a replace()-based merge
    silently skips alternate occurrences; the fold must not."""
    from h2h_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([(0, "aaaaaa zz")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(df, "text", merges=2, max_words=10).collect()]
    # round 1: pair (a,a) count 5 → merge; word becomes aa aa aa
    # round 2: pair (aa,aa) count 2
    assert got[0] == (1, "a", "a", 5)
    assert got[1] == (2, "aa", "aa", 2)


def test_bpe_apply_counts_subwords(spark):
    from h2h_spark.operators.bpe import bpe_apply, bpe_train

    texts = ["the then there the", "other the there"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rules_df = bpe_train(df, "text", merges=4, max_words=100)
    rules = [(r["sym_a"], r["sym_b"]) for r in rules_df.collect()]
    got = {
        r["doc_id"]: r["n_subwords"]
        for r in bpe_apply(df, "text", rules).select("doc_id", "n_subwords").collect()
    }
    _, syms_ref = _ref_bpe(texts, 4)
    import re

    want = {}
    for i, t in enumerate(texts):
        n = 0
        for w in re.split("[^a-z0-9]+", t.lower()):
            if w:
                n += len(syms_ref[w])
        want[i] = n
    assert got == want


def test_dq_constraint_suite_counts(spark):
    from h2h_spark.operators import quality as Q

    rows = [
        (1, 10.0, "1-HIGH", "O"),
        (2, -5.0, "9-BAD", "X"),
        (3, None, "2-MED", "F"),
        (3, 50.0, None, None),
        (None, 200.0, "3-LOW", "P"),
    ]
    df = spark.createDataFrame(rows, "k long, price double, prio string, st string")
    ref = spark.createDataFrame([(1,), (2,)], "rk long")
    rep = {
        r["check_name"]: (r["violations"], r["passed"])
        for r in Q.check_constraints(
            df,
            [
                Q.not_null("k"),
                Q.in_range("price", 0.0, 100.0),
                Q.matches("prio", "^[1-5]-"),
                Q.unique("k"),
                Q.satisfies("st_valid", F.col("st").isin("O", "F", "P")),
            ],
            referential=[("k_ref", "k", ref, "rk")],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, False)
    # price: -5 out of range, None counts, 200 out of range
    assert rep["in_range(price,0.0,100.0)"] == (3, False)
    # prio: 9-BAD no match, None counts
    assert rep["matches(prio)"] == (2, False)
    # k values 1,2,3,3,None → 5 rows, 4 distinct (count_distinct drops null → 3) → 2
    assert rep["unique(k)"][0] == 2
    assert rep["satisfies(st_valid)"] == (2, False)
    # fk nulls exempt: values 1,2,3,3 → the two 3s dangle
    assert rep["referential(k_ref)"] == (2, False)


def test_dq_referential_only_suite(spark):
    from h2h_spark.operators import quality as Q

    df = spark.createDataFrame([(1,), (9,)], "k long")
    ref = spark.createDataFrame([(1,)], "rk long")
    rows = Q.check_constraints(
        df, [], referential=[("only", "k", ref, "rk")]
    ).collect()
    assert len(rows) == 1 and rows[0]["violations"] == 1


def test_pq_train_matches_numpy_reference(spark):
    from h2h_spark.operators.pq import pq_train, seed_codebooks

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    m, k, dim, iters = 2, 4, 8, 3
    got = pq_train(df, "vec_id", "embedding", m=m, k=k, dim=dim, iters=iters)

    # plain numpy Lloyd with the identical seeding/tie/empty-cell rules
    sd = dim // m
    books = {
        (j, c): vecs[c, j * sd : (j + 1) * sd].copy()
        for j in range(m)
        for c in range(k)
    }
    for _ in range(iters):
        assign = {}
        for i, v in enumerate(vecs):
            for j in range(m):
                sv = v[j * sd : (j + 1) * sd]
                best = min(
                    range(k),
                    key=lambda c: (float(((sv - books[(j, c)]) ** 2).sum()), c),
                )
                assign[(i, j)] = best
        for j in range(m):
            for c in range(k):
                members = [
                    vecs[i, j * sd : (j + 1) * sd]
                    for i in range(len(vecs))
                    if assign[(i, j)] == c
                ]
                if members:
                    books[(j, c)] = np.mean(members, axis=0)
    for key in books:
        assert np.allclose(got[key], books[key], atol=1e-9), key


def test_pq_adc_matches_brute_force(spark):
    from h2h_spark.operators.pq import adc_topk, pq_encode, seed_codebooks

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    m, k, dim = 2, 4, 8
    books = seed_codebooks(df, "vec_id", "embedding", m=m, k=k, dim=dim)
    codes = pq_encode(df, "vec_id", "embedding", books, m=m, dim=dim)
    q = vecs[0]
    got = [
        (r["id"], r["adc"])
        for r in adc_topk(codes, books, q, m=m, k=k, dim=dim, top=5).collect()
    ]

    # brute force: encode + LUT in python
    sd = dim // m
    scores = []
    for i, v in enumerate(vecs):
        s = 0.0
        for j in range(m):
            sv = v[j * sd : (j + 1) * sd]
            c = min(
                range(k),
                key=lambda c_: (float(((sv - np.array(books[(j, c_)])) ** 2).sum()), c_),
            )
            qs = q[j * sd : (j + 1) * sd]
            acc = 0.0
            for a, b in zip(qs, books[(j, c)]):
                acc += (a - b) ** 2
            s += round(acc, 6)
        scores.append((round(s, 6), i))
    want = [(i, s) for s, i in sorted(scores)[:5]]
    assert got == want


def test_resolve_tree_deep_chain_and_forest(spark):
    from h2h_spark.operators.hierarchy import resolve_tree

    # chain 0←1←2←…←20 plus a separate star rooted at 100
    edges = [(i, i - 1) for i in range(1, 21)] + [(101, 100), (102, 100)]
    df = spark.createDataFrame(edges, "child long, parent long")
    got = {r["id"]: (r["root"], r["depth"]) for r in resolve_tree(df).collect()}
    for i in range(1, 21):
        assert got[i] == (0, i), i
    assert got[0] == (0, 0)
    assert got[100] == (100, 0)
    assert got[101] == (100, 1) and got[102] == (100, 1)


def test_resolve_tree_cycle_raises(spark):
    from h2h_spark.operators.hierarchy import resolve_tree

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="cycle"):
        resolve_tree(df, max_rounds=6)


def test_time_in_state_splits_on_midnight(spark):
    from h2h_spark.operators.timeseries import time_in_state

    rows = [
        # user 1: state A 23:00 → 01:30 next day (straddles midnight),
        # then B 01:30 → 01:30:05
        (1, 1, "A", "2024-01-01 23:00:00"),
        (2, 1, "B", "2024-01-02 01:30:00"),
        (3, 1, "C", "2024-01-02 01:30:05"),
        # user 2: simultaneous events → zero-length interval dropped
        (4, 2, "A", "2024-01-01 10:00:00"),
        (5, 2, "B", "2024-01-01 10:00:00"),
        (6, 2, "C", "2024-01-01 11:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["state"], str(r["day"])[:10]): r["micros"]
        for r in time_in_state(df, "user_id", "event_type", "ts", "event_id").collect()
    }
    h = 3600 * 1_000_000
    assert got[("A", "2024-01-01")] == 1 * h
    assert got[("A", "2024-01-02")] == int(1.5 * h)
    assert got[("B", "2024-01-02")] == 5 * 1_000_000
    # user 2: A→B zero length dropped; B holds 10:00→11:00
    assert got[("B", "2024-01-01")] == 1 * h
    assert ("A", "2024-01-01") in got and got[("A", "2024-01-01")] == 1 * h


def test_k_anonymity_report(spark):
    from h2h_spark.operators.quality import k_anonymity

    rows = [("a", 1)] * 5 + [("b", 1)] * 2 + [("c", 2)] * 1
    df = spark.createDataFrame(rows, "qi string, v int")
    r = k_anonymity(df, ["qi"], 3).collect()[0]
    assert (
        r["n_groups"], r["n_violating_groups"], r["n_rows_at_risk"], r["k_anonymous"]
    ) == (3, 2, 3, False)
    r2 = k_anonymity(df, ["qi"], 1).collect()[0]
    assert r2["k_anonymous"] is True


def test_ewma_matches_sequential_reference(spark):
    from h2h_spark.operators.timeseries import ewma_last

    rows = [
        (1, 10, "2024-01-01 00:00:00", 4.0),
        (2, 10, "2024-01-01 00:01:00", 8.0),
        (3, 10, "2024-01-01 00:02:00", 2.0),
        (4, 20, "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["key"]: (r["n_obs"], r["ewma"])
        for r in ewma_last(df, "user_id", "ts", "event_id", "value", 0.5).collect()
    }
    # user 10: s1=4 → s2=.5*8+.5*4=6 → s3=.5*2+.5*6=4
    assert got[10] == (3, 4.0)
    assert got[20] == (1, 5.0)


def test_pagerank_deep_iteration_checkpointed(spark):
    from h2h_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    # 10 rounds crosses the checkpoint boundary; ring stays uniform
    ranks = pagerank(edges, iterations=10, checkpoint_every=4).collect()
    assert len({r["rank"] for r in ranks}) == 1


def test_incremental_join_equals_full_rejoin(spark):
    from h2h_spark.operators.incremental import incremental_join_refresh

    a = spark.createDataFrame(
        [(k, f"a{k}") for k in range(20)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(k % 10, i, float(k)) for i, k in enumerate(range(30))],
        "k long, i long, bv double",
    )
    a_state, a_delta = a.filter("k % 3 != 0"), a.filter("k % 3 = 0")
    b_state, b_delta = b.filter("i % 2 = 0"), b.filter("i % 2 = 1")
    view = a_state.join(b_state, ["k"])
    got = sorted(
        tuple(r)
        for r in incremental_join_refresh(
            view, a_state, b_state, a_delta, b_delta, ["k"]
        ).collect()
    )
    want = sorted(tuple(r) for r in a.join(b, ["k"]).collect())
    assert got == want and len(want) > 0


def test_bfs_distances_chain_and_unreachable(spark):
    from h2h_spark.operators.graph import bfs_distances

    # chain 0→1→2→3→4 plus an isolated edge 100→101
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)] + [(100, 101)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, srcs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    # depth cap stops early
    capped = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, srcs, max_depth=2).collect()
    }
    assert capped == {0: 0, 1: 1, 2: 2}
    # multi-source takes the minimum
    srcs2 = spark.createDataFrame([(0,), (3,)], "node long")
    multi = {r["node"]: r["dist"] for r in bfs_distances(edges, srcs2).collect()}
    assert multi[4] == 1 and multi[1] == 1 and multi[2] == 2


def test_components_star_matches_min_label(spark):
    import random

    random.seed(9)
    # high-diameter chain + random clutter + duplicate/reversed edges
    edges = [(i, i + 1) for i in range(200, 230)]
    edges += [(random.randrange(40), random.randrange(40)) for _ in range(50)]
    edges += [(b, a) for a, b in edges[:10]]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(tuple(r) for r in D.connected_components(df).collect())
    b = sorted(tuple(r) for r in D.connected_components_star(df).collect())
    assert a == b
    # every rep is the component minimum
    reps = {}
    for nid, rep in b:
        reps.setdefault(rep, []).append(nid)
    for rep, members in reps.items():
        assert rep == min(members)


def test_ols_fit_matches_numpy(spark):
    from h2h_spark.operators.regress import ols_fit

    rng = np.random.default_rng(5)
    x1 = rng.uniform(0, 10, 200)
    x2 = rng.uniform(0, 1, 200)
    y = 3.5 + 2.0 * x1 - 4.0 * x2 + rng.normal(0, 0.1, 200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    r = ols_fit(df, "y", "x1", "x2").collect()[0]
    A = np.column_stack([np.ones_like(x1), x1, x2])
    beta = np.linalg.lstsq(A, y, rcond=None)[0]
    assert r["n"] == 200
    assert abs(r["b0"] - beta[0]) < 1e-4
    assert abs(r["b1"] - beta[1]) < 1e-4
    assert abs(r["b2"] - beta[2]) < 1e-4
    # simple-regression path
    r1 = ols_fit(df, "y", "x1").collect()[0]
    b = np.linalg.lstsq(np.column_stack([np.ones_like(x1), x1]), y, rcond=None)[0]
    assert abs(r1["b0"] - b[0]) < 1e-4 and abs(r1["b1"] - b[1]) < 1e-4


def test_retract_state_equals_scratch_recompute(spark):
    from h2h_spark.operators.incremental import agg_state, retract_agg_state

    rows = [(i, i % 5, float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, k long, v double")
    state = agg_state(df, ["k"], {"v": "decimal(18,4)"})
    # delete ALL rows of key 0 and half the rows of key 1
    deleted = df.filter((F.col("k") == 0) | ((F.col("k") == 1) & (F.col("id") < 30)))
    out = retract_agg_state(state, deleted, ["k"], {"v": "decimal(18,4)"})
    got = {r["k"]: (r["n_rows"], float(r["v_sum"])) for r in out.collect()}
    kept = df.exceptAll(deleted)
    want = {
        r["k"]: (r["n"], float(r["s"]))
        for r in kept.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum(F.col("v").cast("decimal(18,4)")).alias("s"))
        .collect()
    }
    assert got == want
    assert 0 not in got  # fully-deleted key must vanish, not linger at 0


def test_poisson_bootstrap_statistics(spark):
    from h2h_spark.operators.stats import POISSON1_CDF, poisson_bootstrap_means

    n = 4000
    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(n)], "id long, v double"
    )
    reps = poisson_bootstrap_means(df, "id", "v", replicas=24).collect()
    assert len(reps) == 24
    means = [r["replica_mean"] for r in reps]
    true_mean = sum(i % 100 for i in range(n)) / n
    # replica means center on the sample mean...
    assert abs(sum(means) / len(means) - true_mean) < 2.0
    # ...and actually vary (weights aren't degenerate)
    assert max(means) - min(means) > 0.01
    # effective sizes hover near n (Poisson(1) weights sum ≈ n)
    for r in reps:
        assert 0.85 * n < r["n_eff"] < 1.15 * n
    # determinism: a second run is bit-identical
    again = poisson_bootstrap_means(df, "id", "v", replicas=24).collect()
    assert sorted(map(tuple, reps)) == sorted(map(tuple, again))
    # CDF thresholds are a proper increasing chain in (0, 1)
    assert all(0 < a < b < 1 for a, b in zip(POISSON1_CDF, POISSON1_CDF[1:]))


def test_ab_test_welch_z_matches_scipyfree_reference(spark):
    """q_ab_test's Welch z on a hand-built frame vs a python reference."""
    import math

    from h2h_spark.operators import dedup as D

    rows = [(i, float((i * 37) % 50) + (10.0 if i % 2 else 0.0)) for i in range(400)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    armed = df.withColumn(
        "arm",
        F.pmod(
            D.portable_hash60(
                F.concat(F.lit("ab:"), F.col("user_id").cast("string"))
            ),
            F.lit(2),
        ).cast("int"),
    )
    stats = {
        r["arm"]: (r["n"], r["s"], r["q"])
        for r in armed.groupBy("arm")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("value").cast("double").alias("s"),
            F.sum(F.col("value") * F.col("value")).cast("double").alias("q"),
        )
        .collect()
    }
    n0, s0, q0 = stats[0]
    n1, s1, q1 = stats[1]
    v0 = (q0 - s0 * s0 / n0) / (n0 - 1)
    v1 = (q1 - s1 * s1 / n1) / (n1 - 1)
    z = (s0 / n0 - s1 / n1) / math.sqrt(v0 / n0 + v1 / n1)
    # both arms populated and the statistic is finite and sane
    assert n0 + n1 == 400 and min(n0, n1) > 100
    assert math.isfinite(z)


def test_dq_empty_batch_passes(spark):
    """An empty batch must report 0 violations / passed — SUM over zero
    rows is NULL without the coalesce guard."""
    from h2h_spark.operators import quality as Q

    empty = spark.createDataFrame([], "k long, v double")
    rows = Q.check_constraints(
        empty, [Q.not_null("k"), Q.in_range("v", 0.0, 1.0), Q.unique("k")]
    ).collect()
    assert [(r["violations"], r["passed"]) for r in rows] == [(0, True)] * 3


def test_edge_cases_empty_and_invalid_inputs(spark):
    from h2h_spark.operators.bpe import bpe_train
    from h2h_spark.operators.hierarchy import resolve_tree
    from h2h_spark.operators.pq import _subvectors

    # BPE on an empty corpus returns an empty, correctly-typed rule table
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    rules = bpe_train(empty_docs, "text", merges=3, max_words=10)
    assert rules.count() == 0
    assert [f.name for f in rules.schema.fields] == [
        "step", "sym_a", "sym_b", "pair_count"
    ]

    # hierarchy resolution of an empty forest is empty, not an error
    empty_edges = spark.createDataFrame([], "child long, parent long")
    assert resolve_tree(empty_edges).count() == 0

    # PQ rejects a dim not divisible by m — loud, never silent truncation
    vecs = spark.createDataFrame([(1, [1.0] * 10)], "id long, v array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        _subvectors(vecs, "id", "v", m=4, dim=10)


def test_resolve_tree_dedups_edges_and_rejects_multiparent(spark):
    from h2h_spark.operators.hierarchy import resolve_tree

    # duplicated (child,parent) rows must not fan out the self-joins
    dup = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 1), (2, 1), (2, 1)], "child long, parent long"
    )
    got = {r["id"]: (r["root"], r["depth"]) for r in resolve_tree(dup).collect()}
    assert got == {0: (0, 0), 1: (0, 1), 2: (0, 2)}
    assert len(resolve_tree(dup).collect()) == 3  # no duplicate output rows

    # two DIFFERENT parents for one child violates the forest contract
    multi = spark.createDataFrame(
        [(1, 0), (1, 2)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="multiple distinct parents"):
        resolve_tree(multi)


def test_jpeg_color_codec_bit_exact_and_errors():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        _ycbcr_to_rgb,
        decode_jpeg_color,
        encode_jpeg_ycbcr420,
        synthesize_jpeg_color,
    )

    # block-constant luma + MCU-constant chroma survive the lossy
    # pipeline bit-exactly at flat quant — check against the closed form
    for seed in (0, 1, 5, 17, 300):
        mh, mw = seed % 2 + 1, seed % 3 + 1
        rgb = decode_jpeg_color(synthesize_jpeg_color(seed))
        assert rgb.shape == (16 * mh, 16 * mw, 3)
        bi = np.arange(2 * mh)[:, None]
        bj = np.arange(2 * mw)[None, :]
        y = np.kron((3 * bi + 5 * bj + seed) % 256, np.ones((8, 8), np.int64))
        mi = np.arange(mh)[:, None]
        mj = np.arange(mw)[None, :]
        cb = np.kron((7 * mi + 11 * mj + seed) % 256, np.ones((16, 16), np.int64))
        cr = np.kron((13 * mi + 17 * mj + 2 * seed) % 256, np.ones((16, 16), np.int64))
        assert np.array_equal(rgb, _ycbcr_to_rgb(y, cb, cr)), seed

    # arbitrary (lossy) content still decodes without errors and stays
    # within clip range; exercises byte stuffing across 4 Y + 2 C blocks
    rng = np.random.RandomState(7)
    y = rng.randint(0, 256, (32, 48), dtype=np.uint8)
    cb = rng.randint(0, 256, (16, 24), dtype=np.uint8)
    cr = rng.randint(0, 256, (16, 24), dtype=np.uint8)
    rgb = decode_jpeg_color(encode_jpeg_ycbcr420(y, cb, cr))
    assert rgb.shape == (32, 48, 3) and rgb.dtype == np.uint8

    with pytest.raises(ValueError, match="multiple-of-16"):
        encode_jpeg_ycbcr420(y[:24], cb, cr)
    with pytest.raises(ValueError, match="chroma"):
        encode_jpeg_ycbcr420(y, cb[:8], cr)
    # a grayscale payload must be rejected by the color decoder
    from h2h_spark.operators.multimodal import synthesize_jpeg

    with pytest.raises(ValueError, match="3-component"):
        decode_jpeg_color(synthesize_jpeg(3))


def test_png_palette_and_rgba_codec():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        decode_png,
        encode_png,
        encode_png_palette,
        synthesize_png_palette,
        synthesize_png_rgba,
    )

    rng = np.random.RandomState(11)
    # RGBA round-trip through all five filters
    img = rng.randint(0, 256, (9, 7, 4), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)
    # palette round-trip resolves through PLTE
    idx = rng.randint(0, 16, (6, 10), dtype=np.uint8)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png_palette(idx, pal)), pal[idx])
    # synthetics: closed-form check for one seed
    seed = 23
    h, w = seed % 13 + 4, (seed * 5) % 13 + 4
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    i = (3 * r + 5 * c + seed) % 64
    exp = np.stack(
        [(7 * i + seed) % 256, (11 * i + 2 * seed) % 256, (13 * i + 3 * seed) % 256],
        axis=2,
    )
    assert np.array_equal(decode_png(synthesize_png_palette(seed)), exp)
    rgba = decode_png(synthesize_png_rgba(seed))
    assert np.array_equal(rgba[:, :, 3], (7 * r + 11 * c + seed) % 256)
    # error paths
    with pytest.raises(ValueError, match="palette"):
        encode_png_palette(np.full((2, 2), 5, np.uint8), pal[:4])
    with pytest.raises(ValueError):
        encode_png(rng.randint(0, 256, (4, 4, 2), dtype=np.uint8))


def test_unigram_viterbi_objective_and_train(spark):
    from h2h_spark.operators.unigram import _viterbi_segment, unigram_train

    vocab = {"a": 5, "b": 3, "ab": 10, "ba": 9, "aba": 1, "c": 1}
    # fewest pieces wins over count sum: 'aba' (1 piece) beats 'ab a'
    assert _viterbi_segment("aba", vocab, 4) == "aba"
    # count-sum tie-break: 'abab' -> 'ab ab' (20) not 'a ba b' (3 pieces)
    assert _viterbi_segment("abab", vocab, 4) == "ab ab"
    # lexicographic tie-break at equal pieces and equal count sum
    tie = {"x": 2, "y": 2, "xy": 4, "yx": 4, "xyx": 0, "yxy": 0}
    # 'xyxy' as 'xy xy' (8) vs 'x yx y' — 2 pieces beats 3
    assert _viterbi_segment("xyxy", tie, 4) == "xy xy"
    with pytest.raises(ValueError, match="not segmentable"):
        _viterbi_segment("qq", {"a": 1}, 4)

    df = spark.createDataFrame(
        [("the cat sat on the mat the cat",), ("a cat and a mat and a hat",)],
        "text string",
    )
    out = unigram_train(df, "text", rounds=2, vocab_size=8, max_words=20)
    rows = {r["piece"]: r["cnt"] for r in out.collect()}
    # alphabet retention: every letter of every kept word survives
    for ch in "catmhndoes":
        assert ch in rows, ch
    # frequent whole words become single pieces with real counts
    assert rows.get("cat", 0) >= 3


def test_opq_rotation_improves_and_is_orthogonal(spark):
    import numpy as np

    from h2h_spark.operators.opq import (
        opq_reconstruction_error,
        opq_train,
        rotate_vectors,
    )
    from h2h_spark.operators.pq import seed_codebooks

    dim, m, k = 8, 2, 4
    # two correlated clusters deliberately NOT axis-aligned, so a learned
    # rotation can beat identity-PQ
    rng = np.random.RandomState(3)
    base = rng.randn(40, dim)
    mix = np.linalg.qr(rng.randn(dim, dim))[0]
    X = (base @ mix).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    seed = seed_codebooks(df, "vec_id", "embedding", m=m, k=k, dim=dim)
    e0 = opq_reconstruction_error(
        df, "vec_id", "embedding", np.eye(dim), seed, m=m, dim=dim
    )
    R, books = opq_train(
        df, "vec_id", "embedding", m=m, k=k, dim=dim, rounds=2, books=seed
    )
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-9)
    e1 = opq_reconstruction_error(df, "vec_id", "embedding", R, books, m=m, dim=dim)
    assert e1 <= e0, (e1, e0)

    # rotate_vectors really is R @ x per row
    got = {
        r["id"]: np.array(r["rvec"])
        for r in rotate_vectors(df, "vec_id", "embedding", R).collect()
    }
    for i in (0, 7, 39):
        assert np.allclose(got[i], R @ X[i], atol=1e-12)


def test_bpe_batched_disjoint_selection_and_train(spark):
    from h2h_spark.operators.bpe import _select_disjoint, bpe_train_batched

    ranked = [
        ("a", "b", 100),   # accepted
        ("b", "c", 90),    # rejected: shares 'b'
        ("c", "d", 80),    # accepted
        ("ab", "x", 70),   # rejected: 'ab' is the product of rule 1
        ("e", "f", 60),    # accepted (batch full after this)
        ("g", "h", 50),
    ]
    got = _select_disjoint(ranked, 3)
    assert got == [("a", "b", 100), ("c", "d", 80), ("e", "f", 60)]

    # simultaneous application: 'abab' must fold to 'ab ab' under the
    # (a,b) merge even with other disjoint merges in the same batch
    df = spark.createDataFrame(
        [("abab cd cd abab",), ("ab cd ab cd",)], "text string"
    )
    out = bpe_train_batched(df, "text", rounds=1, batch=2)
    rows = {(r["round"], r["rank"]): (r["sym_a"], r["sym_b"]) for r in out.collect()}
    assert rows[(1, 1)] == ("a", "b")
    # second pick must not reuse 'a'/'b' or the 'ab' product
    a2, b2 = rows[(1, 2)]
    assert not ({a2, b2, a2 + b2} & {"a", "b", "ab"})


def test_connected_components_raises_on_high_diameter(spark):
    from h2h_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # a 40-hop chain has diameter 40 > 2*max_iter at max_iter=3 — the
    # min-label walker must fail loudly, and the star contraction must
    # still solve it in O(log n) rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="diameter"):
        connected_components(chain, max_iter=3)
    star = connected_components_star(chain)
    reps = {r["rep"] for r in star.collect()}
    assert reps == {0}
    assert star.count() == 41


def test_png_16bit_codec():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        decode_png,
        encode_png_16bit,
        synthesize_png_16bit,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 65536, (7, 9, 3), dtype=np.uint16)
    back = decode_png(encode_png_16bit(img))
    assert back.dtype == np.uint16
    assert np.array_equal(back, img)
    # closed form for one seed
    seed = 9
    h, w = seed % 13 + 4, (seed * 5) % 13 + 4
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    k = np.arange(3)[None, None, :]
    exp = (301 * r + 507 * c + 11 * seed + 21845 * k) % 65536
    assert np.array_equal(decode_png(synthesize_png_16bit(seed)), exp)


def test_jpeg_restart_markers():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_ycbcr420,
        synthesize_jpeg_color,
    )

    rng = np.random.RandomState(4)
    y = rng.randint(0, 256, (48, 64), dtype=np.uint8)
    cb = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    cr = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    plain = decode_jpeg_color(encode_jpeg_ycbcr420(y, cb, cr))
    for ri in (1, 2, 5):
        with_rst = encode_jpeg_ycbcr420(y, cb, cr, restart_interval=ri)
        assert b"\xff\xdd" in with_rst  # DRI segment present
        assert np.array_equal(decode_jpeg_color(with_rst), plain), ri
    # synthetic path with restarts must equal the restart-free decode
    for seed in (3, 10):
        a = decode_jpeg_color(synthesize_jpeg_color(seed))
        b = decode_jpeg_color(synthesize_jpeg_color(seed, restart_interval=2))
        assert np.array_equal(a, b), seed


def test_jpeg_progressive_roundtrip():
    import random
    import struct

    import numpy as np
    import pytest

    from h2h_spark.operators.multimodal import (
        decode_jpeg_progressive,
        decode_jpeg_progressive_coeffs,
        encode_jpeg_progressive_coeffs,
        synthesize_progressive_coeffs,
    )

    # deterministic generator corpus: every Annex-G path (EOBn runs,
    # ZRL, newly-nonzero refinement insertions, correction bits) —
    # coefficients recover bit-exactly
    for seed in range(40):
        blocks, bh, bw = synthesize_progressive_coeffs(seed)
        payload = encode_jpeg_progressive_coeffs(blocks, bh, bw)
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        assert payload.count(b"\xff\xda") >= 6  # six-scan script
        got, gh, gw = decode_jpeg_progressive_coeffs(payload)
        assert (gh, gw) == (bh, bw) and got == blocks, seed

    # random stress: wider magnitudes, all-zero-AC blocks (pure EOB
    # runs), long zero runs forcing ZRL in both scan kinds
    rng = random.Random(11)
    for trial in range(60):
        nb = rng.randint(1, 8)
        blocks = []
        for _ in range(nb):
            zz = [rng.randint(-100, 100)]
            for _k in range(63):
                r = rng.random()
                zz.append(
                    0 if r < 0.8
                    else rng.choice([-1, 1]) if r < 0.9
                    else rng.randint(2, 30) * rng.choice([-1, 1])
                )
            if rng.random() < 0.25:
                zz = [zz[0]] + [0] * 63
            blocks.append(zz)
        payload = encode_jpeg_progressive_coeffs(blocks, 1, nb)
        got, _, _ = decode_jpeg_progressive_coeffs(payload)
        assert got == blocks, trial

    # pixel path: DC-only blocks are lossless at flat quant (pixel =
    # DC/8 + 128), so the progressive pixel decode equals the
    # closed-form block constant
    blocks = [[8 * v] + [0] * 63 for v in (-16, 0, 9, 40)]
    px = decode_jpeg_progressive(encode_jpeg_progressive_coeffs(blocks, 2, 2))
    for t, v in enumerate((-16, 0, 9, 40)):
        r, c = divmod(t, 2)
        tile = px[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8]
        assert (tile == np.clip(v + 128, 0, 255)).all(), t

    # error paths: a baseline stream must be rejected, truncated scans
    # must not decode silently
    from h2h_spark.operators.multimodal import encode_jpeg_gray

    base = encode_jpeg_gray(np.full((8, 8), 77, dtype=np.uint8))
    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg_progressive_coeffs(base)
    good = encode_jpeg_progressive_coeffs(*synthesize_progressive_coeffs(3))
    with pytest.raises((ValueError, EOFError, IndexError, struct.error)):
        decode_jpeg_progressive_coeffs(good[: len(good) // 2])


def test_gif_color_codec():
    import numpy as np

    from h2h_spark.operators.multimodal import (
        decode_gif,
        decode_gif_gray,
        encode_gif,
        synthesize_gif_color,
    )

    rng = np.random.RandomState(6)
    idx = rng.randint(0, 32, (11, 7), dtype=np.uint8)
    pal = rng.randint(0, 256, (32, 3), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])
    # closed form for one seed
    seed = 14
    h, w = seed % 13 + 4, (seed * 5) % 13 + 4
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    i = (3 * r + 5 * c + seed) % 64
    exp = np.stack(
        [(5 * i + seed) % 256, (9 * i + 2 * seed) % 256, (11 * i + 3 * seed) % 256],
        axis=2,
    )
    assert np.array_equal(decode_gif(synthesize_gif_color(seed)), exp)
    # the gray decoder must reject a non-ramp palette
    with pytest.raises(ValueError, match="grayscale ramp"):
        decode_gif_gray(encode_gif(idx, pal))
    with pytest.raises(ValueError, match="index exceeds"):
        encode_gif(np.full((2, 2), 40, np.uint8), pal)


def test_weighted_sample_and_per_group(spark):
    from h2h_spark.operators.sampling import weighted_sample, weighted_sample_per_group
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(1 + i % 5)) for i in range(100)],
        "id long, grp string, w double",
    )
    top = weighted_sample(df, "id", "w", 10)
    rows = top.collect()
    assert len(rows) == 10
    # keys ascend and are reproducible run to run
    keys = [r["es_key"] for r in rows]
    assert keys == sorted(keys)
    again = weighted_sample(df, "id", "w", 10).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # zero/negative weights are excluded
    z = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, 2.0)], "id long, w double")
    assert weighted_sample(z, "id", "w", 5).count() == 1

    per = weighted_sample_per_group(df, "grp", "id", "w", 7)
    counts = {r["grp"]: r["n"] for r in per.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 7, "b": 7}


def test_tdigest_quantiles_accuracy_and_state(spark):
    from h2h_spark.operators.sketch import tdigest_partial, tdigest_quantiles

    # deterministic non-uniform distribution: id^1.5 over two groups
    df = spark.range(20000).select(
        (F.col("id") % 2).alias("g"),
        F.pow(F.col("id").cast("double"), F.lit(1.5)).alias("v"),
    )
    est = {
        (r["g"], r["level"]): r["est"]
        for r in tdigest_quantiles(df, "v", ["g"], [0.1, 0.5, 0.9]).collect()
    }
    exact = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.1, 0.5, 0.9))").alias("p"))
        .collect()
    }
    n_per_group = 10000
    for (g, lev), e in est.items():
        ex = exact[g][{0.1: 0, 0.5: 1, 0.9: 2}[lev]]
        # rank error: count of values the estimate misplaces
        rank_est = df.filter((F.col("g") == g) & (F.col("v") <= e)).count()
        assert abs(rank_est / n_per_group - lev) < 0.01, (g, lev, e, ex)
    # bounded state: partial centroids per group stay O(compression),
    # not O(rows) — the no-raw-shuffle contract
    parts = tdigest_partial(df, "v", ["g"], compression=100.0)
    per_group = {r["g"]: r["n"] for r in parts.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(n < 3000 for n in per_group.values()), per_group
    # weight conservation: centroid weights sum to the row count
    tot = parts.agg(F.sum("c_weight").alias("s")).collect()[0]["s"]
    assert tot == 20000.0


def test_tdigest_weighted_quantiles(spark):
    from h2h_spark.operators.sketch import tdigest_partial, tdigest_quantiles

    # weight w = 1 + id%5 — weighted rank differs materially from the
    # unweighted one; null/non-positive weights must be ignored
    df = spark.range(20000).select(
        (F.col("id") % 2).alias("g"),
        F.pow(F.col("id").cast("double"), F.lit(1.3)).alias("v"),
        F.when(F.col("id") % 97 == 0, F.lit(None))
        .when(F.col("id") % 89 == 0, F.lit(-2.0))
        .otherwise((F.lit(1.0) + (F.col("id") % 5).cast("double")))
        .alias("w"),
    )
    est = {
        (r["g"], r["level"]): r["est"]
        for r in tdigest_quantiles(
            df, "v", ["g"], [0.25, 0.5, 0.75], weight_col="w"
        ).collect()
    }
    kept = df.filter(F.col("w") > 0)
    for (g, lev), e in est.items():
        # weighted rank error: mass at or below the estimate vs level
        below, total = kept.filter(F.col("g") == g).agg(
            F.sum(F.when(F.col("v") <= e, F.col("w")).otherwise(F.lit(0.0))),
            F.sum("w"),
        ).collect()[0]
        assert abs(below / total - lev) < 0.01, (g, lev, e)
    # weight conservation over the kept rows only
    parts = tdigest_partial(df, "v", ["g"], weight_col="w")
    tot = parts.agg(F.sum("c_weight").alias("s")).collect()[0]["s"]
    exact_tot = kept.agg(F.sum("w")).collect()[0][0]
    assert abs(tot - exact_tot) < 1e-6


def test_kmv_jaccard_pairs(spark):
    from h2h_spark.operators.sketch import kmv_jaccard_pairs

    # 12 docs sharing a 20-word prefix but mostly-unique bodies (true
    # pairwise J ~0.15), plus one near-dup of doc 0 (true J ~0.9): at
    # threshold 0.5 only the near-dup pair must survive, and its
    # estimate must be close to the exact Jaccard
    base = " ".join(f"common{i}" for i in range(20))
    rows = []
    for d in range(12):
        body = " ".join(f"word{d}x{j}" for j in range(60))
        rows.append((d, f"{base} {body}"))
    rows.append((100, rows[0][1] + " smalltail"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in kmv_jaccard_pairs(
            df, "doc_id", "text", k=64, threshold=0.5, shingle_k=4
        ).collect()
    }
    assert set(out) == {(0, 100)}, out

    def grams(text):
        t = text.lower().split()
        return {" ".join(t[i:i + 4]) for i in range(len(t) - 3)}

    a, b = grams(rows[0][1]), grams(rows[-1][1])
    exact = len(a & b) / len(a | b)
    assert abs(out[(0, 100)] - exact) < 0.15, (out[(0, 100)], exact)
    # below-k docs retain every shingle hash -> deterministic rerun
    out2 = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in kmv_jaccard_pairs(
            df, "doc_id", "text", k=64, threshold=0.5, shingle_k=4
        ).collect()
    }
    assert out == out2


def test_wav_pcm16_codec():
    import numpy as np
    import pytest

    from h2h_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
        synthesize_wav_stereo,
    )

    # deterministic stereo corpus decodes to the closed-form ramps
    for seed in (0, 1, 7, 123):
        frames, rate = decode_wav_pcm16(synthesize_wav_stereo(seed))
        ns = seed % 400 + 50
        assert frames.shape == (ns, 2) and rate == 8000 + seed % 8 * 1000
        i = np.arange(ns, dtype=np.int64)
        assert (frames[:, 0] == (((13 * i + 7 * seed) % 65536) - 32768).astype(np.int16)).all()
        assert (frames[:, 1] == (((17 * i + 11 * seed) % 65536) - 32768).astype(np.int16)).all()
    # the LIST chunk before data must be skipped by size, not assumed away
    assert b"LIST" in synthesize_wav_stereo(3)

    # mono round trip incl. odd-byte data padding
    mono = encode_wav_pcm16([np.array([1, -2, 32767], np.int16)], 44100)
    f, r = decode_wav_pcm16(mono)
    assert f.ravel().tolist() == [1, -2, 32767] and r == 44100

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm16(b"nope")
    with pytest.raises(ValueError, match="equal length"):
        encode_wav_pcm16([np.zeros(3, np.int16), np.zeros(2, np.int16)], 8000)
    # 8-bit payload (codec fine, bits wrong) rejected loudly
    import struct as _st

    fmt8 = _st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + _st.pack("<I", 38) + b"WAVE"
           + b"fmt " + _st.pack("<I", 16) + fmt8
           + b"data" + _st.pack("<I", 2) + b"ab")
    with pytest.raises(ValueError, match="PCM16"):
        decode_wav_pcm16(bad)


def test_psi_drift_matches_hand_computation(spark):
    import math

    from h2h_spark.operators.quality import psi_drift

    ref = spark.createDataFrame([(v,) for v in [10.0, 10.0, 60.0, 110.0]], "x double")
    cur = spark.createDataFrame([(v,) for v in [10.0, 60.0, 60.0, 160.0]], "x double")
    out = {r.bin: r for r in psi_drift(ref, cur, "x", n_bins=4, width=50.0).collect()}
    assert [out[b].ref_n for b in range(4)] == [2, 1, 1, 0]
    assert [out[b].cur_n for b in range(4)] == [1, 2, 0, 1]
    for b in range(4):
        pr = (out[b].ref_n + 1.0) / (4 + 4.0)
        pc = (out[b].cur_n + 1.0) / (4 + 4.0)
        assert out[b].psi_bin == round((pc - pr) * math.log(pc / pr), 6), b
    # identical populations drift zero in every bin
    same = psi_drift(ref, ref, "x", n_bins=4, width=50.0).collect()
    assert all(r.psi_bin == 0.0 for r in same)


def test_label_propagation_two_cliques(spark):
    from h2h_spark.operators.graph import label_propagation

    # two triangles bridged by one edge: LPA must settle each triangle
    # on its minimum label, and the bridge must not merge them
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    out = {r.node: r.label for r in label_propagation(edges, iterations=4).collect()}
    assert {out[1], out[2], out[3]} == {1}
    assert {out[10], out[11], out[12]} == {1} or len({out[10], out[11], out[12]}) == 1
    # disconnected components never exchange labels (synchronous LPA
    # oscillates WITHIN a 2-node component — documented — but labels stay
    # confined to their component)
    edges2 = spark.createDataFrame([(1, 2), (5, 6)], "src long, dst long")
    out2 = {r.node: r.label for r in label_propagation(edges2, iterations=3).collect()}
    assert {out2[1], out2[2]} <= {1, 2}
    assert {out2[5], out2[6]} <= {5, 6}


def test_bpe_apply_ranked_equals_fold(spark):
    """Rank-loop apply (GPT-2 algorithm, broadcast ranks + word cache)
    must equal the fold-chain apply on overlapping-pair inputs — the
    differential contract that lets q_bpe_apply_fast share the fold
    oracle."""
    from h2h_spark.operators.bpe import bpe_apply, bpe_apply_ranked

    df = spark.createDataFrame(
        [
            (1, "aaaa aaa banana bananas"),
            (2, "abab ababab ba"),
            (3, ""),
            (4, "zzz zz z"),
        ],
        "doc_id long, text string",
    )
    # hand-picked rules with overlap traps: (a,a) then (aa,a) then (b,a)
    rules = [("a", "a"), ("aa", "a"), ("b", "a"), ("ba", "n")]
    fold = {
        r.doc_id: r.n_subwords
        for r in bpe_apply(df, "text", rules).select("doc_id", "n_subwords").collect()
    }
    rank = {
        r.doc_id: r.n_subwords
        for r in bpe_apply_ranked(df, "text", rules)
        .select("doc_id", "n_subwords")
        .collect()
    }
    assert fold == rank
    # greedy-leftmost sanity: "aaaa" -> aa aa (2), "aaa" -> aa a -> aaa? no:
    # rule1 gives "aa a", rule2 (aa,a) fuses -> "aaa" (1 subword)
    assert rank[3] == 0  # empty doc


def test_kmv_distinct_sketch(spark):
    from pyspark.sql import functions as F

    from h2h_spark.operators.sketch import kmv_distinct, kmv_partials

    # below k: exact count
    small = spark.createDataFrame(
        [("a", str(i % 7)) for i in range(100)] + [("b", str(i % 3)) for i in range(30)],
        "g string, v string",
    )
    out = {r.g: r.est_distinct for r in kmv_distinct(small, "v", ["g"], k=16).collect()}
    assert out == {"a": 7, "b": 3}

    # above k: estimate lands near truth (KMV stderr ~ 1/sqrt(k-2) ≈ 9%
    # at k=128; assert a generous 3-sigma band), and partials stay
    # k-bounded per partition per group
    big = spark.range(5000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    ).repartition(8)
    est = kmv_distinct(big, "v", ["g"], k=128).collect()[0].est_distinct
    assert abs(est - 5000) < 5000 * 0.27, est
    parts = kmv_partials(big, "v", ["g"], k=128)
    per_part = parts.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert all(r["count"] <= 128 for r in per_part)

    # determinism: same input, same estimate (md5 hashes, no RNG)
    est2 = kmv_distinct(big, "v", ["g"], k=128).collect()[0].est_distinct
    assert est == est2


def test_kmv_set_estimates(spark):
    from pyspark.sql import functions as F

    from h2h_spark.operators.sketch import kmv_set_estimates

    # |A|=3000, |B|=3000, |A∩B|=1000 (ids 2000..2999), |A∪B|=5000
    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(2000, 5000).select(F.col("id").cast("string").alias("v"))
    r = kmv_set_estimates(a, b, "v", k=256).collect()[0]
    assert abs(r.est_a - 3000) < 3000 * 0.25
    assert abs(r.est_b - 3000) < 3000 * 0.25
    assert abs(r.est_union - 5000) < 5000 * 0.25
    assert abs(r.est_intersection - 1000) < 1000 * 0.55  # ratio estimator
    # exact path below k on both sides
    sa = spark.range(0, 60).select(F.col("id").cast("string").alias("v"))
    sb = spark.range(40, 100).select(F.col("id").cast("string").alias("v"))
    r2 = kmv_set_estimates(sa, sb, "v", k=256).collect()[0]
    assert (r2.est_a, r2.est_b, r2.est_union) == (60, 60, 100)
    assert r2.est_intersection == 20  # n_both/|K| * |K| exact below k


def test_resample_interpolate_linear(spark):
    from h2h_spark.operators.timeseries import resample_interpolate

    rows = [
        (1, 0, 10.0),     # bucket 0: 10.0
        (1, 3600 * 4, 30.0),  # bucket 4: 30.0 -> gap buckets 1-3 interpolate
        (2, 0, 5.5),
        (2, 3600, 5.5),   # no gap
    ]
    df = spark.createDataFrame(rows, "k long, s long, v double").selectExpr(
        "k", "CAST(s AS TIMESTAMP) AS ts", "v"
    )
    out = {
        (r.k, r.bucket_ts): r.value_e8
        for r in resample_interpolate(df, "k", "ts", "v", 3600).collect()
    }
    # observed buckets carry the exact fixed-point mean (1e-8 units)
    assert out[(1, 0)] == 10_0000_0000 and out[(1, 4 * 3600)] == 30_0000_0000
    # linear gap fill: 15, 20, 25
    assert out[(1, 3600)] == 15_0000_0000
    assert out[(1, 2 * 3600)] == 20_0000_0000
    assert out[(1, 3 * 3600)] == 25_0000_0000
    assert out[(2, 0)] == 5_5000_0000 and out[(2, 3600)] == 5_5000_0000
    # two observations in one bucket: integer-floor mean
    df2 = spark.createDataFrame(
        [(9, 0, 1.0), (9, 10, 2.01)], "k long, s long, v double"
    ).selectExpr("k", "CAST(s AS TIMESTAMP) AS ts", "v")
    out2 = resample_interpolate(df2, "k", "ts", "v", 3600).collect()
    assert len(out2) == 1 and out2[0].value_e8 == 150500000  # floor(30100*1e4/2)


def test_psi_drift_multi_matches_single(spark):
    from h2h_spark.operators.quality import psi_drift, psi_drift_multi

    ref = spark.createDataFrame(
        [(v, 2.0 * v) for v in [10.0, 10.0, 60.0, 110.0]], "x double, y double"
    )
    cur = spark.createDataFrame(
        [(v, 2.0 * v) for v in [10.0, 60.0, 60.0, 160.0]], "x double, y double"
    )
    multi = {
        (r.feature, r.bin): (r.ref_n, r.cur_n, r.psi_bin)
        for r in psi_drift_multi(
            ref, cur, {"x": ("x", 50.0), "y": ("y", 100.0)}, n_bins=4
        ).collect()
    }
    for col, width, name in (("x", 50.0, "x"), ("y", 100.0, "y")):
        single = {
            r.bin: (r.ref_n, r.cur_n, r.psi_bin)
            for r in psi_drift(ref, cur, col, n_bins=4, width=width).collect()
        }
        for b in range(4):
            assert multi[(name, b)] == single[b], (name, b)


def test_label_propagation_semisync_breaks_oscillation(spark):
    from h2h_spark.operators.graph import (
        label_propagation,
        label_propagation_semisync,
    )

    # bipartite 2-node component: synchronous LPA swaps labels every
    # round (odd iteration counts leave them exchanged); the semi-sync
    # schedule converges in ONE round because the second color class
    # sees the first's fresh label
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    sync = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert sync == {0: 1, 1: 0}  # still oscillating
    semi = {
        r["node"]: r["label"]
        for r in label_propagation_semisync(
            edges, rounds=2, substeps=2
        ).collect()
    }
    assert semi == {0: 1, 1: 1}  # converged: one community

    # triangle + pendant: both variants agree on the stable community
    edges2 = spark.createDataFrame(
        [(0, 2), (2, 4), (4, 0), (4, 6)], "src long, dst long"
    )
    semi2 = {
        r["node"]: r["label"]
        for r in label_propagation_semisync(
            edges2, rounds=2, substeps=2
        ).collect()
    }
    assert len(set(semi2.values())) == 1  # one community, deterministic


def test_kmv_weighted_sum(spark):
    from h2h_spark.operators.sketch import kmv_weighted_sum

    # exact path (< k distinct keys): each key repeats 4x with varying
    # weights; the distinct-sum must use each key's MAX weight
    df = spark.range(200).select(
        F.lit("g").alias("g"),
        (F.col("id") % 50).cast("string").alias("key"),
        ((F.col("id") % 50) + (F.col("id") / 50).cast("long")).alias("w"),
    )
    out = kmv_weighted_sum(df, "key", "w", ["g"], k=256).collect()
    # max weight per key k is k+3; sum over k=0..49 = 1225 + 150
    assert out[0]["est_weight"] == 1375

    # estimator path (>> k distinct): 5000 distinct keys, weight 7 each
    # -> estimate close to 35000, and exactly 7x the weight-1 estimate
    big = spark.range(5000).select(
        F.lit("g").alias("g"),
        F.col("id").cast("string").alias("key"),
    )
    e7 = kmv_weighted_sum(
        big.withColumn("w", F.lit(7)), "key", "w", ["g"], k=256
    ).collect()[0]["est_weight"]
    e1 = kmv_weighted_sum(
        big.withColumn("w", F.lit(1)), "key", "w", ["g"], k=256
    ).collect()[0]["est_weight"]
    assert abs(e7 - 35000) / 35000 < 0.2, e7
    assert abs(e7 - 7 * e1) <= 7  # same retained set, scaled weights


def test_cluster_safe_split_no_leakage(spark):
    from h2h_spark.operators.sampling import cluster_safe_split, hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    # 200 near-dup pairs (i, i+500) + a 3-chain {400, 401, 900}
    pairs = spark.createDataFrame(
        [(i, i + 500) for i in range(200)] + [(400, 401), (401, 900)],
        "id_a long, id_b long",
    )
    out = cluster_safe_split(docs, "doc_id", pairs, fr)
    m = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(m) == 1000
    for i in range(200):
        assert m[i] == m[i + 500], i  # linked pairs never separate
    assert m[400] == m[401] == m[900]  # transitive closure honored
    # unlinked rows are the plain hash split (stability contract)
    plain = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", fr).collect()}
    for i in range(202, 400):
        assert m[i] == plain[i], i
    # all three splits are populated
    assert {"train", "val", "test"} == set(m.values())


# ---------------------------------------------------------------- spatial


def test_grid_self_join_matches_bruteforce(spark):
    import itertools
    import random

    rng = random.Random(7)
    pts = [(i, rng.uniform(-1, 1), rng.uniform(-1, 1)) for i in range(80)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    from h2h_spark.operators.spatial import grid_self_join

    eps = 0.25
    got = {
        (r["a_id"], r["b_id"])
        for r in grid_self_join(df, "id", "x", "y", eps).collect()
    }
    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps * eps
    }
    assert got == want and len(want) > 0


def test_neighbor_stats_isolated_point(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.05, 0.0), (3, 9.0, 9.0)],
        "id long, x double, y double",
    )
    from h2h_spark.operators.spatial import neighbor_stats

    out = {r["id"]: r for r in neighbor_stats(df, "id", "x", "y", 0.1).collect()}
    assert out[1]["n_neighbors"] == 1 and out[2]["n_neighbors"] == 1
    assert out[3]["n_neighbors"] == 0 and out[3]["min_d2"] is None
    assert abs(out[1]["min_d2"] - 0.0025) < 1e-12


def test_grid_self_join_rejects_bad_eps(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    from h2h_spark.operators.spatial import grid_self_join

    with pytest.raises(ValueError, match="eps must be positive"):
        grid_self_join(df, "id", "x", "y", 0.0)


# ---------------------------------------------------------------- cdc audit


def test_order_audit_counts_regressions(spark):
    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # key 1: 10, 20, 15 (one regression of 5s), then tie at 15
        (1, 1, t(10)), (1, 2, t(20)), (1, 3, t(15)), (1, 4, t(15)),
        # key 2: strictly increasing
        (2, 1, t(1)), (2, 2, t(2)),
        # key 3: single row — no adjacent pairs
        (3, 1, t(30)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    from h2h_spark.operators.cdc import order_audit

    out = {r["key"]: r for r in order_audit(df, "user_id", "event_id", "ts").collect()}
    assert out[1]["n_rows"] == 4 and out[1]["n_regressions"] == 1
    assert out[1]["max_backstep_sec"] == 5.0 and out[1]["n_ties"] == 1
    assert abs(out[1]["out_of_order_frac"] - round(1 / 3, 6)) < 1e-12
    assert out[2]["n_regressions"] == 0 and out[2]["max_backstep_sec"] == 0.0
    assert out[3]["n_rows"] == 1 and out[3]["out_of_order_frac"] == 0.0


# ---------------------------------------------------------------- skyline


def test_skyline_2d_small(spark):
    rows = [
        (1, 1.0, 5),   # frontier (cheapest)
        (2, 2.0, 9),   # frontier
        (3, 2.0, 7),   # dominated by 2 (same price, smaller size)
        (4, 3.0, 9),   # dominated by 2 (worse price, same size)
        (5, 4.0, 12),  # frontier
        (6, 4.0, 12),  # duplicate frontier point — survives too
        (7, 5.0, 1),   # dominated
    ]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    from h2h_spark.operators.skyline import skyline_2d

    got = sorted(r["id"] for r in skyline_2d(df, "price", "size").collect())
    assert got == [1, 2, 5, 6]


# ---------------------------------------------------------- t-digest merge


def test_tdigest_merge_centroids_bounded_and_consistent(spark):
    import numpy as np

    from h2h_spark.operators.sketch import (
        tdigest_estimate,
        tdigest_merge_centroids,
        tdigest_partial,
    )

    vals = np.random.RandomState(3).normal(100.0, 15.0, 4000)
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "grp string, v double"
    ).repartition(8)
    part = tdigest_partial(df, "v", ["grp"], compression=100.0)
    merged = tdigest_merge_centroids(part, ["grp"], compression=100.0)
    n = merged.count()
    assert n <= 100  # size invariant: ~compression/2 + 1
    est = tdigest_estimate(merged, ["grp"], [0.5], compression=100.0).collect()
    true_med = float(np.median(vals))
    assert abs(est[0]["est"] - true_med) < 2.0  # well inside 1% of sigma


def test_dbscan_2d_labels(spark):
    # two tight clusters + one isolated noise point
    rows = (
        [(i, 0.0 + i * 0.01, 0.0) for i in range(5)]          # cluster at 0
        + [(10 + i, 5.0 + i * 0.01, 5.0) for i in range(4)]   # cluster at 10
        + [(99, 50.0, 50.0)]                                  # noise
        + [(50, 0.06, 0.0)]                                   # border of cluster 0
    )
    df = spark.createDataFrame(rows, "id long, x double, y double")
    from h2h_spark.operators.spatial import dbscan_2d

    out = {r["id"]: r for r in dbscan_2d(df, "id", "x", "y", 0.025, 4).collect()}
    assert out[99]["role"] == "noise" and out[99]["cluster"] is None
    # cluster label = min CORE id: chain endpoints (0, 4 is core via 50;
    # 10, 13) have only 3 points in their closed neighborhood -> border
    assert {out[i]["cluster"] for i in range(5)} == {1}
    assert out[0]["role"] == "border" and out[2]["role"] == "core"
    assert {out[10 + i]["cluster"] for i in range(4)} == {11}
    assert out[10]["role"] == "border" and out[12]["role"] == "core"
    # 50 at x=0.06 touches only node 4 (x=0.04) -> border of cluster 1
    assert out[50]["cluster"] == 1 and out[50]["role"] == "border"


def test_mp4_parse_rejects_and_errors(spark):
    from h2h_spark.operators.multimodal import (
        parse_mp4_meta,
        synthesize_mp4,
    )

    assert parse_mp4_meta(b"notmp4!!") is None
    good = synthesize_mp4(42)
    with pytest.raises(ValueError, match="mp4"):
        parse_mp4_meta(good[:-3])  # truncated inside the mdat largesize


def test_mp4_meta_dataframe_stage(spark):
    from h2h_spark.operators import multimodal as mm

    df = spark.createDataFrame([(7,), (123,)], "doc_id long")
    out = {r["doc_id"]: r for r in mm.mp4_meta(df, "doc_id").collect()}
    assert out[7]["timescale"] == 600 + 7 % 10 * 100
    assert out[7]["n_tracks"] == 7 % 3 + 1
    assert out[123]["width"] == (123 * 3) % 1920 + 16
    assert out[123]["mdat_bytes"] == 123 % 32 + 1


def test_interval_overlap_join_once_only(spark):
    from datetime import datetime

    d = lambda day: datetime(2024, 1, day)
    left = spark.createDataFrame(
        [(1, 10, d(1)), (1, 11, d(20)), (2, 12, d(1))],
        "k long, a_id long, a_start timestamp",
    )
    right = spark.createDataFrame(
        [(1, 20, d(5)), (1, 21, d(9)), (2, 22, d(15))],
        "k long, b_id long, b_start timestamp",
    )
    from h2h_spark.operators.interval import interval_overlap_join

    # left spans 7 days, right spans 3 days
    out = interval_overlap_join(
        left, right, key="k",
        left_start="a_start", left_span_sec=7 * 86400,
        right_start="b_start", right_span_sec=3 * 86400,
    ).collect()
    pairs = sorted((r["a_id"], r["b_id"]) for r in out)
    # (10:[1,8) x 20:[5,8)) overlap; (10 x 21:[9,12)) no; (11:[20,27) x none)
    # (12:[1,8) x 22:[15,18)) no
    assert pairs == [(10, 20)]
    assert len(out) == len(set(pairs))  # exactly once, no bucket dups


def test_interval_overlap_join_multibucket_dedup(spark):
    from datetime import datetime

    left = spark.createDataFrame(
        [(1, 10, datetime(2024, 1, 1))], "k long, a_id long, a_start timestamp"
    )
    right = spark.createDataFrame(
        [(1, 20, datetime(2024, 1, 2))], "k long, b_id long, b_start timestamp"
    )
    from h2h_spark.operators.interval import interval_overlap_join

    # both spans 10 days -> overlap covers 9 shared daily buckets; the
    # once-only rule must still emit a single row
    out = interval_overlap_join(
        left, right, key="k",
        left_start="a_start", left_span_sec=10 * 86400,
        right_start="b_start", right_span_sec=10 * 86400,
    ).collect()
    assert len(out) == 1


def test_sssp_bounded_small_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 4, 1.0), (9, 10, 1.0),
         (1, 2, 9.0)],  # parallel edge: cheapest must win
        "src long, dst long, w double",
    )
    sources = spark.createDataFrame([(1,)], "node long")
    from h2h_spark.operators.graph import sssp_bounded

    out = {r["node"]: r["dist"] for r in
           sssp_bounded(edges, sources, max_dist=4.0).collect()}
    # 1->2 (1), 2->3 (2), 3->4 (3); direct 1->3 of 5 loses; 9/10 unreachable
    assert out == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}


def test_sssp_bounded_radius_prunes(spark):
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 3.0)], "src long, dst long, w double"
    )
    sources = spark.createDataFrame([(1,)], "node long")
    from h2h_spark.operators.graph import sssp_bounded

    out = {r["node"]: r["dist"] for r in
           sssp_bounded(edges, sources, max_dist=5.0).collect()}
    assert out == {1: 0.0, 2: 3.0}  # 3 is at dist 6 >= bound -> excluded


def test_bloom_index_prunes_and_is_exact(spark, tmp_path):
    from h2h_spark.operators.bloomidx import (
        build_file_index,
        prune_files,
        read_point_lookup,
    )

    data = str(tmp_path / "d")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    df.repartitionByRange(8, "k").write.parquet(data)
    idx = build_file_index(spark, data, "k", "k")
    rows = idx.collect()
    assert len(rows) == 8 and all(r["n_rows"] > 0 for r in rows)
    # zone map sanity: min <= max, ranges disjointish by construction
    assert all(r["min_lay"] <= r["max_lay"] for r in rows)

    # two point keys living in (at most) two files
    files = prune_files(idx, [17, 3999])
    assert 1 <= len(files) <= 3  # Bloom may false-positive a file, not 8
    out = read_point_lookup(spark, idx, "k", [17, 3999]).collect()
    assert sorted((r["k"], r["v"]) for r in out) == [(17, 51), (3999, 11997)]

    # absent key: everything prunes, result empty with the data schema
    empty = read_point_lookup(spark, idx, "k", [99999])
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


# ---------------------------------------------------------------------------
# operators.per_row: the one per-row Python stage of the codec operators.
# ---------------------------------------------------------------------------

def test_per_row_empty_input_gives_empty_frame_of_schema(spark):
    from h2h_spark.operators import per_row

    empty = spark.createDataFrame([], "id bigint, data binary")
    out = per_row(empty, ["id", "data"], lambda i, d: [(i, d, 1)],
                  "id bigint, data binary, n int")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint,data:binary,n:int>"


def test_per_row_yields_zero_one_or_many_rows(spark):
    from h2h_spark.operators import per_row

    df = spark.createDataFrame([(0,), (1,), (3,)], "n bigint")
    out = per_row(df, ["n"], lambda n: ((n, i) for i in range(n)),
                  "n bigint, i int")
    assert sorted(map(tuple, out.collect())) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_per_row_nulls_and_bytes_round_trip(spark):
    from h2h_spark.operators import per_row

    blobs = [(1, b"\x00\xffab"), (2, None), (3, b"")]
    df = spark.createDataFrame(blobs, "id bigint, data binary")
    seen = per_row(
        df, ["id", "data"],
        lambda i, d: [(i, d, None if d is None else len(d), type(d).__name__)],
        "id bigint, data binary, n int, t string",
    ).collect()
    assert sorted(map(tuple, seen)) == [
        (1, bytearray(b"\x00\xffab"), 4, "bytes"),
        (2, None, None, "NoneType"),
        (3, bytearray(b""), 0, "bytes"),
    ]


def test_per_row_error_in_row_function_fails_the_action(spark):
    from h2h_spark.operators import per_row

    def row(n):
        if n == 2:
            raise ValueError("codec round-trip mismatch")
        yield (n,)

    df = spark.createDataFrame([(1,), (2,)], "n bigint")
    with pytest.raises(Exception, match="codec round-trip mismatch"):
        per_row(df, ["n"], row, "n bigint").collect()


def test_per_row_plan_is_one_map_in_arrow(spark):
    from h2h_spark.operators import per_row

    df = spark.range(10).coalesce(1)
    out = per_row(df, ["id"], lambda i: [(i,)], "id bigint")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    # a one-partition input is spread across the pool first
    assert "Exchange" in plan


def test_per_row_wide_input_is_not_shuffled(spark):
    from h2h_spark.operators import per_row

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, par)
    out = per_row(wide, ["id"], lambda i: [(i,)], "id bigint")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.count() == 100


def test_scale_out_counts_a_repartitioned_input_without_a_job(spark):
    """A per_row stage's output (its plan ends in a fixed-count shuffle)
    is counted from the plan: chaining per_row stages runs no extra job."""
    from h2h_spark.operators import per_row, scale_out

    sc = spark.sparkContext
    chained = per_row(spark.range(100).coalesce(1), ["id"],
                      lambda i: [(i,)], "id bigint")
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    assert scale_out(chained, None) is chained
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    assert chained.count() == 100


def test_no_map_in_pandas_or_unconditional_spread_in_operators():
    """The per-row codec operators run through ``per_row``; no operator
    spreads its input with a count-only ``repartition(defaultParallelism)``
    (``scale_out`` is the guarded spread).  A keyed repartition to
    ``defaultParallelism`` after a grouping (``dedup._bucket_candidates``)
    is not a spread of the input: the grouping's coalesced partition count
    is known only after it runs, so no guard could skip it."""
    import inspect
    import pathlib
    import re

    from h2h_spark.operators import office

    ops = pathlib.Path(MM.__file__).parent
    assert "mapInPandas" not in pathlib.Path(MM.__file__).read_text()
    assert "mapInPandas" not in inspect.getsource(office.pdf_stats)
    spread = re.compile(r"repartition\(\s*[\w.]*defaultParallelism\s*\)")
    hits = [
        f"{f.name}: {m.group(0)}"
        for f in sorted(ops.glob("*.py"))
        for m in spread.finditer(f.read_text())
    ]
    assert hits == []


# ---------------------------------------------------------------------------
# Per-row operators pinned: each runs on a fixed small id / blob input and
# its schema plus a sha256 of its sorted rows must equal the values
# recorded before these operators moved onto ``operators.per_row``.
# ---------------------------------------------------------------------------

_PIN_IDS = range(17)


def _pin_blobs(op: str, d: int) -> bytes:
    from h2h_spark.operators import office as OF

    if op == "exif_stats":
        app1 = MM.encode_exif_app1(
            make=f"Cam{d % 5}", model=f"M{d % 7}", orientation=d % 8 + 1,
            datetime_str="2024:01:%02d 12:00:00" % (d % 28 + 1),
            width=640 + d * 16, height=480 + d * 16, iso=100 * (d % 4 + 1),
            byteorder="II" if d % 2 == 0 else "MM",
        )
        return MM.insert_exif(MM.synthesize_jpeg(d % 11), app1)
    if op == "mp3_stats":
        return MM.encode_mp3_frames(
            [(d % 14 + 1, d % 3, i % 2) for i in range(d % 6 + 3)],
            id3_bytes=d % 50,
        )
    if op == "flac_stats":
        return MM.encode_flac_meta(
            sample_rate=(44100, 48000, 32000, 22050)[d % 4],
            channels=d % 2 + 1, bits_per_sample=(16, 24)[d % 2],
            total_samples=100000 + d * 7,
            tags={"TITLE": f"T{d % 9}"} if d % 3 else None,
            audio_bytes=d % 300,
        )
    if op == "ogg_stats":
        return MM.encode_ogg_pages(
            [(1, 1000 * (p + 1) + d % 7, [d * 40 + 1, 300]) for p in range(d % 3 + 1)]
            + [(2, d % 11, [d % 100 + 5])]
        )
    if op == "tiff_stats":
        return MM.encode_tiff_meta(
            width=320 + d * 8, height=240 + d * 8, bits=(1, 8, 16)[d % 3],
            compression=(1, 5, 7)[d % 3], description=f"page {d}" if d % 2 else "",
            byteorder="II" if d % 2 == 0 else "MM",
        )
    if op == "webp_stats":
        flavor = ("lossy", "lossless", "extended")[d % 3]
        return MM.encode_webp(
            width=16 + d * 4, height=16 + d * 4, flavor=flavor,
            n_anim_frames=(d % 4) if flavor == "extended" else 0,
            has_exif=(flavor == "extended" and d % 2 == 0),
        )
    if op == "adts_stats":
        return MM.encode_adts_frames(
            [(d % 4, d % 13, 50 + d * 7)] * (d % 5 + 1), with_crc=(d % 2 == 1)
        )
    if op == "webm_stats":
        video = {"type": "video", "codec": "V_VP9", "width": 640 + d * 16,
                 "height": 360 + d * 16}
        audio = {"type": "audio", "codec": "A_OPUS", "rate": 48000,
                 "channels": d % 2 + 1}
        return MM.encode_webm(
            duration_ms=1000 + d * 250,
            tracks=([video], [audio], [video, audio])[d % 3],
            n_clusters=d % 4 + 1,
        )
    if op == "avif_stats":
        return MM.encode_avif_meta(
            width=256 + d * 8, height=144 + d * 8, bit_depth=(8, 10, 12)[d % 3],
            has_exif=(d % 4 == 0), animated=(d % 5 == 0),
        )
    if op == "id3_stats":
        tags = {"TIT2": f"track {d}", "TPE1": f"artist {d % 13}"}
        if d % 3 == 0:
            tags["TALB"] = f"album {d % 7}"
        return MM.encode_id3v2(tags, version=3 if d % 2 else 4) + MM.encode_mp3_frames(
            [(5, 1, 0)]
        )
    if op == "pdf_stats":
        if d % 2:
            return OF.build_pdf_xrefstream(
                d % 7 + 1, version=("1.5", "1.6", "1.7")[d % 3],
                predictor=12 if d % 4 == 1 else 1, encrypted=(d % 13 == 0),
            )
        return OF.build_pdf(d % 9 + 1, version="1.4", encrypted=(d % 11 == 0))
    raise KeyError(op)


_BLOB_OPS = (
    "exif_stats", "mp3_stats", "flac_stats", "ogg_stats", "tiff_stats",
    "webp_stats", "adts_stats", "webm_stats", "avif_stats", "id3_stats",
    "pdf_stats",
)
_ID_OPS = (
    "bmp_resize_stats", "png_16bit_stats", "png_flavor_stats",
    "png_resize_stats", "gif_color_stats", "gif_resize_stats",
    "jpeg_color_stats", "jpeg_resize_stats", "jpeg_progressive_stats",
    "wav_pcm_stats", "image_dhash", "wav_energy_blocks", "mp4_sample_stats",
)
_PAYLOAD_OPS = ("decode_features", "resize_images", "audio_stats", "frame_sample")


def _pinned_frame(spark, op: str):
    from h2h_spark.operators import office as OF
    from h2h_spark.operators.dedup import content_defined_chunks
    from h2h_spark.operators.stats import poisson_bootstrap_means

    ids = spark.createDataFrame([(d,) for d in _PIN_IDS], "doc_id bigint")
    if op in _BLOB_OPS:
        fn = OF.pdf_stats if op == "pdf_stats" else getattr(MM, op)
        blobs = spark.createDataFrame(
            [(d, _pin_blobs(op, d)) for d in _PIN_IDS], "doc_id bigint, data binary"
        )
        return fn(blobs, "doc_id")
    if op in _ID_OPS:
        return getattr(MM, op)(ids, "doc_id")
    if op in ("media_meta", "mp4_meta"):
        return getattr(MM, op)(ids, "doc_id")
    texts = spark.createDataFrame(
        [(d, "" if d == 0 else ("héllo wörld %d " % d) * (d * 37 % 300))
         for d in _PIN_IDS],
        "doc_id bigint, text string",
    )
    if op in _PAYLOAD_OPS:
        payload = MM.with_binary_payload(texts, "doc_id", "text")
        if op == "resize_images":
            return MM.resize_images(payload, "doc_id", 8, 4)
        return getattr(MM, op)(payload, "doc_id")
    if op == "content_defined_chunks":
        return content_defined_chunks(texts, "doc_id", "text")
    if op == "poisson_bootstrap_means":
        vals = spark.createDataFrame(
            [(d, d * 1.25 - 3.0) for d in range(200)], "doc_id bigint, v double"
        )
        return poisson_bootstrap_means(vals, "doc_id", "v", replicas=8)
    raise KeyError(op)


_PINNED_OPS = (
    ("media_meta", "mp4_meta") + _PAYLOAD_OPS + _ID_OPS + _BLOB_OPS
    + ("content_defined_chunks", "poisson_bootstrap_means")
)

_PINNED: dict[str, tuple[str, str]] = {
    "media_meta": (
        "struct<doc_id:bigint,kind:string,width:int,height:int,n_channels:int,sample_rate:int,n_samples:bigint,duration_ms:bigint>",
        "ecb6641ecfd9840fd4489075e3b312522b562b8820e7346a4d60d3a0baf6e975",
    ),
    "mp4_meta": (
        "struct<doc_id:bigint,timescale:int,duration:bigint,duration_ms:bigint,n_tracks:int,width:int,height:int,mdat_bytes:bigint>",
        "6a4f126190ba8b2aa4ab4a8f6007e76aedfec7903804213a11735c5b5ffbf430",
    ),
    "decode_features": (
        "struct<doc_id:bigint,n_bytes:bigint,payload_md5:string,width:int,height:int,decoder:string>",
        "dca4c42959bcb27dfa8d469f217f7f86fc8218309412d9b8ed541b462aadfd6f",
    ),
    "resize_images": (
        "struct<doc_id:bigint,width:int,height:int,resized:binary>",
        "d82deafa470bd27401877a4655786ac775229bbad370da8fe7daaf2f7f0fb09f",
    ),
    "audio_stats": (
        "struct<doc_id:bigint,n_samples:bigint,duration_ms:bigint,peak:int,mean_amp_milli:bigint,n_clipped:bigint>",
        "a27ab10f80c75f845474e79a45a47febd8e1a158cb510a4a8a2a78122b56d161",
    ),
    "frame_sample": (
        "struct<doc_id:bigint,frame_idx:int,frame_md5:string>",
        "6d006a95b9d40ba2d7f721a0e59851901e4eec88a1f5455636508a7cc69697e0",
    ),
    "bmp_resize_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,pix_sum:bigint>",
        "bc76ecd9564080520f9159d12b6e9eb068f6983eea148812fc891d4a2ca6cd94",
    ),
    "png_16bit_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,r_sum:bigint,g_sum:bigint,b_sum:bigint>",
        "f416150050580f18f7885d44edccd696d647a3351815fcdfaa413df3d9fd09d1",
    ),
    "png_flavor_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,pal_r_sum:bigint,pal_g_sum:bigint,pal_b_sum:bigint,rgba_r_sum:bigint,rgba_g_sum:bigint,rgba_b_sum:bigint,a_sum:bigint>",
        "693db846cad3a634d0aadec0c6069502846616de742deee5a9bb66d5df074ffd",
    ),
    "png_resize_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,pix_sum:bigint>",
        "bc76ecd9564080520f9159d12b6e9eb068f6983eea148812fc891d4a2ca6cd94",
    ),
    "gif_color_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,r_sum:bigint,g_sum:bigint,b_sum:bigint>",
        "89bf3fa5a896fe208ffaca9b1c09924d74d6f432ac0f4a80d8744386b2135eb3",
    ),
    "gif_resize_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,pix_sum:bigint>",
        "bc76ecd9564080520f9159d12b6e9eb068f6983eea148812fc891d4a2ca6cd94",
    ),
    "jpeg_color_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,r_sum:bigint,g_sum:bigint,b_sum:bigint>",
        "d11b3fc63ecd5a6c2393c11f532f391ae34a4a6fec1a9afeae359cee372074a0",
    ),
    "jpeg_resize_stats": (
        "struct<doc_id:bigint,src_w:int,src_h:int,pix_sum:bigint>",
        "127bc53be2d4bae3d2b1d5330661db7cf1ffc499edbd465b242c9eb59b7c08e3",
    ),
    "jpeg_progressive_stats": (
        "struct<doc_id:bigint,n_blocks:int,coef_sum:bigint,abs_sum:bigint,weighted_sum:bigint>",
        "6f361643dc3b7b28951b3c4d24118c42c83fcd445155017e0f3d52151a58fda2",
    ),
    "wav_pcm_stats": (
        "struct<doc_id:bigint,n_samples:int,sample_rate:int,l_sum:bigint,r_sum:bigint,l_abs:bigint,r_abs:bigint>",
        "1cd71cd85f9660ec65837af69f2d25eadb3d013f245c15aaa3b0b539368b18d4",
    ),
    "image_dhash": (
        "struct<doc_id:bigint,dhash_hi:bigint,dhash_lo:bigint,n_ones:bigint>",
        "c452cd900dc63c86134e93de4c8c54bf6d5462f18e4e25b8919c3eb1223e7836",
    ),
    "wav_energy_blocks": (
        "struct<doc_id:bigint,block:bigint,n:bigint,energy:bigint,is_silence:boolean>",
        "745425897bb406b613317124546fd4557a001124610431f91e84fdde9023fc2e",
    ),
    "mp4_sample_stats": (
        "struct<doc_id:bigint,track:int,timescale:int,n_samples:bigint,duration:bigint,duration_ms:bigint,total_bytes:bigint>",
        "78b99d4c167f6abf054388188f5eda4566b7652649641e63e57e95de81fe7202",
    ),
    "exif_stats": (
        "struct<doc_id:bigint,make:string,model:string,orientation:bigint,datetime:string,width:bigint,height:bigint,iso:bigint>",
        "8508bdfe6f0f5d7e40b590c24140026a5f8aa293a0a1f74cc1f9343c39435f98",
    ),
    "mp3_stats": (
        "struct<doc_id:bigint,n_frames:bigint,audio_bytes:bigint,duration_ms:bigint,sample_rate:bigint,bitrate_kbps:bigint,is_vbr:boolean>",
        "dcf853d5b8f029031a1484ff64079af32ed2a0fcfc6b2c6ab4318fe7b872d7c6",
    ),
    "flac_stats": (
        "struct<doc_id:bigint,sample_rate:bigint,channels:bigint,bits_per_sample:bigint,total_samples:bigint,duration_ms:bigint,n_tags:bigint,title:string,artist:string>",
        "2488260acc493c15591e4b125c765408abb507fdfa8966580b85c556b6317ae3",
    ),
    "ogg_stats": (
        "struct<doc_id:bigint,serial:bigint,n_pages:bigint,n_packets:bigint,body_bytes:bigint,last_granule:bigint>",
        "82e1dcadd3009ee4f395bda80d3042083dc704a85cb240c8109499022e440eee",
    ),
    "tiff_stats": (
        "struct<doc_id:bigint,width:bigint,height:bigint,bits:bigint,compression:bigint,description:string>",
        "243835d7c5f9dbddb8fc59d7f8e6b3fb4b78586b1085feb4465e0aeb1f71c9ec",
    ),
    "webp_stats": (
        "struct<doc_id:bigint,format:string,width:bigint,height:bigint,has_exif:boolean,is_animated:boolean,n_frames:bigint>",
        "8dda22eb305820f1add7f5378059fcf374c437c2f50c1eaec8eb4685c08d3a81",
    ),
    "adts_stats": (
        "struct<doc_id:bigint,n_frames:bigint,audio_bytes:bigint,duration_ms:bigint,sample_rate:bigint,profile:bigint,channels:bigint,has_crc:boolean>",
        "5e8cdd1cda902803a232b7c3d7cb9415b430fbd0068a3aadc260257c55f3c467",
    ),
    "webm_stats": (
        "struct<doc_id:bigint,doctype:string,duration_ms:bigint,n_tracks:bigint,n_video:bigint,n_audio:bigint,width:bigint,height:bigint,sample_rate:bigint,channels:bigint,codecs:string>",
        "9c022983f3ffb3c3ca6dd374cab24c5d8879a6099115aa2d5a597588910c2093",
    ),
    "avif_stats": (
        "struct<doc_id:bigint,brand:string,width:bigint,height:bigint,bit_depth:bigint,n_items:bigint,has_exif:boolean,is_animated:boolean>",
        "e1aa99ec29665dc64b1d014a6c9fe49e29ac1e9a22044925ed7e1eda0466aa65",
    ),
    "id3_stats": (
        "struct<doc_id:bigint,id3_version:bigint,title:string,artist:string,album:string,n_frames:bigint>",
        "cec3794a581bede4feeaba0b946687b073d551dc7174f7da6306a2a3da0745a7",
    ),
    "pdf_stats": (
        "struct<doc_id:bigint,version:string,n_objects:bigint,n_pages:bigint,encrypted:boolean,xref_type:string>",
        "cafdadd1246e0f1954d9fb7d7489364d0cea496d1bfe658ad4e49dad21e159c4",
    ),
    "content_defined_chunks": (
        "struct<doc_id:bigint,chunk_idx:bigint,start:bigint,chunk_len:bigint,chunk_md5:string>",
        "b9aba854698c1beb9cdebf462f7e1fc0100862f2de45afb3e26370efabd82917",
    ),
    "poisson_bootstrap_means": (
        "struct<b:int,n_eff:bigint,replica_mean:double>",
        "560b758dccdd388a7544d99993784395b3e05d4981f9284f0b0a404460558cc5",
    ),
}


def _pin_digest(df) -> tuple[str, str]:
    import hashlib

    rows = sorted(repr(tuple(r)) for r in df.collect())
    return df.schema.simpleString(), hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("op", _PINNED_OPS)
def test_per_row_operator_pinned(spark, op):
    assert _pin_digest(_pinned_frame(spark, op)) == _PINNED[op]
