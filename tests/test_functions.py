"""Tests for the training-data functions layer (text / dedup /
similarity / multimodal) and the skew-safe reduction."""

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connect_jdbc_flatten_spark.functions import dedup as D
from kafka_connect_jdbc_flatten_spark.functions import similarity as SIM
from kafka_connect_jdbc_flatten_spark.functions import text as TX
from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
    attach_fake_blob,
    fake_decode_meta,
    frame_sample,
)
from kafka_connect_jdbc_flatten_spark.operators.lww import lww_reduce
from kafka_connect_jdbc_flatten_spark.operators.skew import salted_lww_reduce

SF = "/root/testdata/sf0.001"


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------------- text
def test_token_counts(spark):
    df = docs_df(spark, [(1, "  a  bb ccc "), (2, ""), (3, "x-1 y!")])
    got = {
        r.doc_id: (r.ws, r.re)
        for r in df.select(
            "doc_id",
            TX.token_count_ws("text").alias("ws"),
            TX.token_count_re("text").alias("re"),
        ).collect()
    }
    assert got[1] == (3, 3)
    assert got[2] == (0, 0)
    # "x-1 y!" → ws: 2; regex: x,-,1,y,! → 5
    assert got[3] == (2, 5)


def test_lang_id(spark):
    df = docs_df(
        spark,
        [
            (1, "the cat and the dog of it"),
            (2, "der hund und die katze ist nicht da"),
            (3, "le chat et la maison est pour un ami"),
            (4, "zzz qqq www"),
        ],
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", TX.lang_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "und"


def test_fingerprint_normalization(spark):
    df = docs_df(spark, [(1, "Hello   World"), (2, "hello world"), (3, "other")])
    fps = {
        r.doc_id: r.fp
        for r in df.select("doc_id", TX.fingerprint("text").alias("fp")).collect()
    }
    assert fps[1] == fps[2] != fps[3]
    assert fps[2] == hashlib.md5(b"hello world").hexdigest()


def test_quality_score_bounds(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = TX.text_quality(F.col("text"))
    row = docs.select(
        F.min(feats["quality_score"]).alias("lo"),
        F.max(feats["quality_score"]).alias("hi"),
        F.max(feats["alpha_ratio"]).alias("ar"),
    ).collect()[0]
    assert 0.0 <= row.lo <= row.hi <= 1.0
    assert row.ar <= 1.0


# ------------------------------------------------------------------ dedup
def test_exact_dedup_groups(spark):
    df = docs_df(
        spark,
        [(1, "Same  Doc"), (2, "same doc"), (3, "unique one"), (4, "SAME DOC")],
    )
    out = {r.winner_id: r.n_dups for r in D.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 3: 1}


def test_jaccard_identical_and_disjoint(spark):
    df = docs_df(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "q r s t u v w x"),
        ],
    )
    pairs = D.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.01).collect()
    assert {(p.id1, p.id2, p.jaccard) for p in pairs} == {(1, 2, 1.0)}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = docs_df(
        spark,
        [
            (1, base),
            (2, base + " extra"),  # near dup
            (3, "completely different words everywhere nothing shared at all ok"),
        ],
    )
    pairs = D.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.8


def test_minhash_signature_deterministic(spark):
    df = docs_df(spark, [(1, "some words here repeated words"), (2, "some words here repeated words")])
    sigs = df.select(D.minhash_signature("text").alias("s")).collect()
    assert sigs[0].s == sigs[1].s
    assert len(sigs[0].s) == 32


def test_simhash_pairs(spark):
    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
    )
    pairs = D.simhash_neardup_pairs(df, "text", "doc_id", max_hamming=3).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


# ------------------------------------------------------------- similarity
def test_brute_topk_self_match(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = SIM.brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert top[0].vec_id == 0 and abs(top[0].score - 1.0) < 1e-6


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id) for r in SIM.lsh_topk(emb, q, k=5, dim=64).collect()
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.4, recall  # sign-LSH with 4 tables on random vectors


# ------------------------------------------------------------- multimodal
def test_fake_decode_meta_matches_python(spark):
    docs = docs_df(spark, [(1, "hello world"), (2, "abc")])
    out = {r.doc_id: r for r in fake_decode_meta(attach_fake_blob(docs, "text")).collect()}
    assert out[1].n_bytes == 11
    assert out[1].head_hex == b"hell".hex()
    assert out[1].content_md5 == hashlib.md5(b"hello world").hexdigest()
    assert out[2].head_hex == b"abc".hex()  # shorter than 4 bytes


def test_frame_sample_explodes_rows(spark):
    docs = docs_df(spark, [(1, "x" * 25000), (2, "y")])
    out = frame_sample(attach_fake_blob(docs, "text"), every_ms=1000)
    counts = {r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts[1] == 3  # 2500ms fake duration → frames at 0,1000,2000
    assert counts[2] == 1


# ------------------------------------------------------------------- skew
def test_salted_lww_equals_plain(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    # make one hot key: map 80% of rows onto user 1
    skewed = ev.withColumn(
        "user_id", F.when(F.col("event_id") % 5 != 0, F.lit(1)).otherwise(F.col("user_id"))
    )
    a = lww_reduce(skewed, ["user_id"], ["ts", "event_id"])
    b = salted_lww_reduce(skewed, ["user_id"], ["ts", "event_id"], n_salts=7)
    cols = sorted(a.columns)
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_lsh_topk_plan_is_equi_join_not_bnl(spark):
    """The LSH candidate join must be an equi-join on (table, bucket) —
    a BroadcastNestedLoopJoin would evaluate every (row, query) pair,
    the same O(n·q) shape as brute force (r01 verdict)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = SIM.lsh_topk(emb, q, k=5, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_ngram_jaccard_broadcasts_hot_side_only(spark):
    """The df-cap filter must broadcast the SMALL high-df shingle set
    as an anti-join, never the (vocabulary-sized) low-df side."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan, plan


def test_embedding_neardup_lsh_pair_dedup_is_vector_free(spark):
    """The candidate pair dedup exchanges bare (id1, id2) — vectors
    must not ride the dedup shuffle (r01 verdict)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = SIM.embedding_neardup_pairs_lsh(
        emb, threshold=0.4, dim=64, n_planes=4, n_tables=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # every hashpartitioning exchange on id1/id2 must not carry v
    for m in re.finditer(r"Exchange hashpartitioning\(id1[^\n]*", plan):
        assert ", v1" not in m.group(0) and ", v2" not in m.group(0), m.group(0)


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """nprobe == n_centroids makes IVF exactly brute force — validates
    train/assign/probe/rerank end-to-end."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id, r.score, r.rank)
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    ivf = {(r.query_id, r.vec_id, r.score, r.rank)
           for r in SIM.ivf_topk(emb, q, k=5, n_centroids=4, nprobe=4, iters=1, dim=64).collect()}
    assert ivf == exact


def test_ivf_arrow_assignment_matches_expr(spark):
    """r4 verdict #1 (the _nearest_cids literal pattern): the Arrow
    broadcast-matrix assignment must give the identical index, probe
    list, and results as the literal-centroid expression path."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    expr = {(r.query_id, r.vec_id, r.score, r.rank)
            for r in SIM.ivf_topk(
                emb, q, k=5, n_centroids=4, nprobe=2, iters=1, dim=64,
                assign_impl="expr").collect()}
    arrow = {(r.query_id, r.vec_id, r.score, r.rank)
             for r in SIM.ivf_topk(
                 emb, q, k=5, n_centroids=4, nprobe=2, iters=1, dim=64,
                 assign_impl="arrow").collect()}
    assert arrow == expr and len(arrow) > 0


def test_ivf_full_probe_exact_under_train_sampling(spark):
    """r02 verdict #4: train_fraction samples the k-means TRAINING scan
    only — centroids move, but full-probe search stays exactly brute
    force (assignment + probe + rerank are fraction-independent)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id, r.score, r.rank)
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    ivf = {(r.query_id, r.vec_id, r.score, r.rank)
           for r in SIM.ivf_topk(
               emb, q, k=5, n_centroids=4, nprobe=4, iters=2, dim=64,
               train_fraction=0.5,
           ).collect()}
    assert ivf == exact
    # the sampled train set really is a strict, deterministic subset
    cents_a = SIM.ivf_train_centroids(emb, 4, 64, 1, train_fraction=0.5)
    cents_b = SIM.ivf_train_centroids(emb, 4, 64, 1, train_fraction=0.5)
    assert cents_a == cents_b
    import pytest

    with pytest.raises(ValueError, match="train_fraction"):
        SIM.ivf_train_centroids(emb, 4, 64, 1, train_fraction=0.0)


def test_ivf_topk_partial_probe_recall(spark):
    """Partial probe trades candidates for recall; with nprobe=half the
    lists, recall vs brute force must stay high on the testdata."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id)
             for r in SIM.brute_force_topk(emb, q, k=10).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in SIM.ivf_topk(emb, q, k=10, n_centroids=8, nprobe=4, iters=2, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # the probe join must be an equi-join on cid, never a BNL
    plan = SIM.ivf_topk(
        emb, q, k=10, n_centroids=8, nprobe=4, iters=2, dim=64
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantized_topk_oracle_and_recall(spark):
    """int8-quantized top-k must (a) reproduce bit-for-bit in DuckDB
    (exact given the quantized representation) and (b) keep high
    recall vs the f32 exact top-k."""
    import duckdb

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {tuple(r) for r in SIM.quantized_topk(emb, q, k=10).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    sql = SIM.quantized_topk_sql(
        "embeddings",
        "SELECT vec_id AS query_id, embedding AS query_vec "
        "FROM embeddings WHERE vec_id < 5",
        k=10,
    )
    want = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == want and len(got) == 50

    exact = {(r.query_id, r.vec_id)
             for r in SIM.brute_force_topk(emb, q, k=10).collect()}
    approx = {(t[0], t[1]) for t in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_oracle_lint_all_green_and_catches_r02_shape():
    """Every gate oracle must use only engine-stable SQL constructs;
    the lint must also still CATCH the construct class that caused the
    r02 sequence_packing driver divergence."""
    import importlib.util

    from kafka_connect_jdbc_flatten_spark.oracle_lint import (
        lint_all,
        lint_oracle_sql,
    )

    spec = importlib.util.spec_from_file_location(
        "entry_for_lint", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    assert lint_all(m.oracle_sql()) == {}
    bad = (
        'SELECT COALESCE(SUM(n) OVER (PARTITION BY s ORDER BY i), 0) '
        'AS "offset", FLOOR(x / 2) AS w FROM t'
    )
    problems = lint_oracle_sql(bad)
    assert any("reserved" in p for p in problems)
    assert any("SUM" in p for p in problems)
    assert any("FLOOR" in p for p in problems)
    assert any("/" in p for p in problems)


def test_brute_topk_arrow_matches_expr(spark):
    """The Arrow/numpy GEMM form of the exact top-k must equal the
    oracle-gated expr fold at the rounded precision, including the
    (score desc, id asc) tie order, at both tiny and full testdata
    scale and under multiple partitions."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sorted(
        tuple(r)
        for r in SIM.brute_force_topk(emb, q, k=10, impl="expr").collect()
    )
    b = sorted(
        tuple(r)
        for r in SIM.brute_force_topk(
            emb.repartition(8), q, k=10, impl="arrow"
        ).collect()
    )
    assert a == b and len(a) == 70
    # duplicate vectors force score ties: both impls must break them
    # by vec_id ascending
    dup = emb.limit(1).select(F.lit(10_001).alias("vec_id"), "embedding").unionByName(
        emb.limit(1).select(F.lit(10_000).alias("vec_id"), "embedding")
    ).unionByName(emb.select("vec_id", "embedding"))
    q1 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ta = [tuple(r) for r in SIM.brute_force_topk(dup, q1, k=3, impl="expr")
          .orderBy("rank").collect()]
    tb = [tuple(r) for r in SIM.brute_force_topk(dup.repartition(4), q1, k=3, impl="arrow")
          .orderBy("rank").collect()]
    assert ta == tb
    import pytest

    with pytest.raises(ValueError, match="impl"):
        SIM.brute_force_topk(emb, q, impl="gpu")


def test_embedding_neardup_arrow_matches_expr(spark):
    """GEMM all-pairs near-dup must equal the expr fold (pairs AND
    rounded scores) across partitionings, and at sf0.1 scale."""
    for sf, parts in (("sf0.001", 4), ("sf0.1", 8)):
        emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        a = sorted(
            tuple(r)
            for r in SIM.embedding_neardup_pairs(
                emb, threshold=0.4, impl="expr"
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in SIM.embedding_neardup_pairs(
                emb.repartition(parts), threshold=0.4, impl="arrow"
            ).collect()
        )
        assert a == b and len(a) > 0, sf


def test_lsh_and_ivf_arrow_rerank_match_expr(spark):
    """The Arrow row-wise rerank must produce identical results to the
    expr fold for both approximate paths (same candidates by
    construction, same rounded scores and tie order)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for fn, kw in (
        (SIM.lsh_topk, dict(k=10, dim=64, n_planes=4, n_tables=4)),
        (SIM.ivf_topk, dict(k=10, n_centroids=8, nprobe=4, iters=2, dim=64)),
    ):
        a = sorted(tuple(r) for r in fn(emb, q, impl="expr", **kw).collect())
        b = sorted(tuple(r) for r in fn(emb, q, impl="arrow", **kw).collect())
        assert a == b and len(a) > 0, fn.__name__


def test_arrow_rounding_is_half_up_like_spark(spark):
    """np.round is banker's (half-even); Spark/DuckDB round is HALF_UP.
    The Arrow kernels' _round_half_up must match Spark F.round on
    exact halves, both signs."""
    import numpy as np

    vals = [0.03125, -0.03125, 0.00005, -0.00005, 0.12345, 0.5, 1.0 / 64]
    got = list(SIM._round_half_up(np.asarray(vals), 4))
    want = [
        r[0]
        for v in vals
        for r in spark.range(1).select(F.round(F.lit(v), 4)).collect()
    ]
    assert got == want, list(zip(vals, got, want))
    # and np.round would NOT have matched (sanity that the test bites)
    assert list(np.round(np.asarray([0.03125]), 4)) != [0.0313]


def test_arrow_kernels_handle_empty_inputs(spark):
    """Empty query sets / empty tables must return empty frames, not
    crash in numpy axis handling."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    none_q = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert SIM.brute_force_topk(emb, none_q, impl="arrow").count() == 0
    assert SIM.lsh_topk(emb, none_q, dim=64, impl="arrow").count() == 0
    empty_emb = emb.filter(F.col("vec_id") < 0)
    assert (
        SIM.embedding_neardup_pairs(empty_emb, threshold=0.4, impl="arrow")
        .count()
        == 0
    )


def test_arrow_kernels_preserve_id_types(spark):
    """The mapInPandas output schema must carry the INPUT id types —
    string ids work identically in expr and arrow impls."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.concat(F.lit("v"), F.lpad(F.col("vec_id").cast("string"), 5, "0")).alias("vec_id"),
        "embedding",
    )
    q = emb.filter(F.col("vec_id") <= "v00002").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sorted(tuple(r) for r in SIM.brute_force_topk(emb, q, k=5, impl="expr").collect())
    b = sorted(tuple(r) for r in SIM.brute_force_topk(emb, q, k=5, impl="arrow").collect())
    assert a == b and len(a) == 15
    pa = sorted(tuple(r) for r in SIM.embedding_neardup_pairs(emb, 0.4, id_col="vec_id", impl="expr").collect())
    pb = sorted(tuple(r) for r in SIM.embedding_neardup_pairs(emb, 0.4, id_col="vec_id", impl="arrow").collect())
    assert pa == pb


def test_oracle_lint_window_sum_inner_cast_and_nearby_cast():
    """Two verified false negatives from the round-3 review: a CAST
    INSIDE the SUM argument doesn't pin the window-sum result type,
    and an unrelated CAST shortly before the SUM must not suppress
    the rule."""
    from kafka_connect_jdbc_flatten_spark.oracle_lint import lint_oracle_sql

    fn1 = "SELECT SUM(CAST(n AS BIGINT)) OVER (PARTITION BY s ORDER BY i) AS x FROM t"
    fn2 = "SELECT CAST(a AS BIGINT) AS a2, SUM(n) OVER (ORDER BY i) AS x FROM t"
    assert any("SUM" in p for p in lint_oracle_sql(fn1))
    assert any("SUM" in p for p in lint_oracle_sql(fn2))
    ok = "SELECT CAST(COALESCE(SUM(n) OVER (ORDER BY i), 0) AS BIGINT) AS x FROM t"
    assert lint_oracle_sql(ok) == []
    assert any(
        "reserved" in p
        for p in lint_oracle_sql("SELECT x AS left FROM t")
    )


def test_arrow_allpairs_collect_is_byte_guarded(spark, monkeypatch):
    """r3 review: the Arrow all-pairs kernel collects the embeddings
    table to the driver — a table over the byte cap must raise with
    guidance toward the LSH scale path instead of OOMing the driver;
    under the cap results are unchanged (and the matrix ships via
    sparkContext.broadcast, once per executor)."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expect = sorted(
        tuple(r)
        for r in SIM.embedding_neardup_pairs(
            emb, threshold=0.4, impl="arrow"
        ).collect()
    )
    assert len(expect) > 0
    monkeypatch.setattr(SIM, "ARROW_ALLPAIRS_MATRIX_BYTES", 0)
    with pytest.raises(ValueError, match="embedding_neardup_pairs_lsh"):
        SIM.embedding_neardup_pairs(emb, threshold=0.4, impl="arrow")
    monkeypatch.setattr(SIM, "ARROW_ALLPAIRS_MATRIX_BYTES", 1 << 30)
    again = sorted(
        tuple(r)
        for r in SIM.embedding_neardup_pairs(
            emb, threshold=0.4, impl="arrow"
        ).collect()
    )
    assert again == expect


def test_arrow_query_collects_are_byte_guarded(spark, monkeypatch):
    """r4 review: the Arrow brute-force and row-wise-rerank kernels
    collect the QUERY side to the driver — an oversized query table
    must hit the same probe-then-raise byte cap as the all-pairs
    matrix instead of OOMing the driver; under the cap results match
    the expr form."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    expect = sorted(
        tuple(r) for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    )
    monkeypatch.setattr(SIM, "ARROW_ALLPAIRS_MATRIX_BYTES", 0)
    with pytest.raises(ValueError, match="query"):
        SIM.brute_force_topk(emb, queries, k=5, impl="arrow")
    with pytest.raises(ValueError, match="query"):
        SIM.lsh_topk(emb, queries, k=5, impl="arrow")
    monkeypatch.setattr(SIM, "ARROW_ALLPAIRS_MATRIX_BYTES", 1 << 30)
    got = sorted(
        tuple(r)
        for r in SIM.brute_force_topk(emb, queries, k=5, impl="arrow").collect()
    )
    assert got == expect


# ------------------------------------------------------------- png codec
def test_png_codec_roundtrip_all_filters_and_channels():
    """The pure-stdlib codec round-trips every (channels, filter)
    combination — gray, gray+alpha, RGB, RGBA × None/Sub/Up/Average/
    Paeth — plus the mixed row%5 default."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        for h, w in ((1, 1), (5, 9), (16, 7)):
            a = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
            for f in (0, 1, 2, 3, 4):
                got = decode_png(encode_png(a, lambda y, f=f: f))
                assert np.array_equal(got, a), (c, h, w, f)
            assert np.array_equal(decode_png(encode_png(a)), a)


def test_png_decoder_matches_jvm_imageio(spark):
    """Cross-decoder validation against an INDEPENDENT implementation:
    Spark's JVM ImageIO `image` data source decodes the same
    externally-produced PNG files (shipped with the Spark distro) and
    must agree byte-for-byte — this rules out a symmetric
    encoder/decoder bug that a round-trip alone would hide."""
    import glob

    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.png import decode_png

    paths = sorted(
        glob.glob("/opt/spark-*/data/mllib/images/origin/multi-channel/BGRA*.png")
    )
    if not paths:
        pytest.skip("Spark sample images not present in this install")
    for p in paths:
        img = spark.read.format("image").load(p).collect()[0].image
        with open(p, "rb") as f:
            mine = decode_png(f.read())
        assert mine.shape == (img.height, img.width, img.nChannels)
        assert img.mode == 24  # CV_8UC4: JVM data is BGRA-ordered
        bgra = mine.reshape(-1, 4)[:, [2, 1, 0, 3]].reshape(-1)
        jvm = np.frombuffer(bytes(img.data), dtype=np.uint8)
        assert np.array_equal(bgra, jvm), p


def test_png_decoder_rejects_malformed():
    """Bad signature, corrupted chunk CRC, and unsupported interlacing
    all raise with the reason instead of returning wrong pixels."""
    import struct
    import zlib

    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.png import (
        decode_png,
        encode_png,
    )

    good = encode_png(np.arange(12, dtype=np.uint8).reshape(3, 4))

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JUNK" + good[4:])

    corrupt = bytearray(good)
    corrupt[20] ^= 0xFF  # inside IHDR data, CRC now wrong
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))

    inter = bytearray(good)
    inter[28] = 1  # IHDR interlace byte (8 sig + 8 len/type + 12)
    crc = zlib.crc32(bytes(inter[12:29])) & 0xFFFFFFFF  # type+data
    inter[29:33] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(bytes(inter))


def test_png_decode_meta_matches_closed_form(spark):
    """attach_png_blob → decode_png_meta (the real-decode Arrow
    pipeline) reproduces the closed-form pixel rule the DuckDB gate
    uses, including the md5 of the decoded sample bytes."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_png_blob,
        decode_png_meta,
    )

    ids = [0, 1, 12, 90, 255]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r for r in decode_png_meta(attach_png_blob(df)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        w, h = 4 + i % 13, 3 + i % 7
        flat = ((np.arange(w * h, dtype=np.int64) + i * 7) % 256).astype(
            np.uint8
        )
        r = got[i]
        assert (r.width, r.height, r.channels, r.bit_depth) == (w, h, 1, 8)
        assert r.px_sum == int(flat.sum(dtype="int64"))
        assert r.n_px == w * h
        assert r.px_md5 == hashlib.md5(flat.tobytes()).hexdigest()


def test_resize_png_matches_numpy_model(spark):
    """decode → stride-2 downsample → re-encode on the workers, then
    decode the resized blobs: equals the numpy model pixel-for-pixel
    (md5 of the decoded samples included)."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_png_blob,
        decode_png_meta,
        resize_png,
    )

    ids = [0, 5, 38, 90]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r
        for r in decode_png_meta(resize_png(attach_png_blob(df), factor=2)).collect()
    }
    for i in ids:
        w, h = 4 + i % 13, 3 + i % 7
        full = ((np.arange(w * h, dtype=np.int64) + i * 7) % 256).astype(
            np.uint8
        ).reshape(h, w, 1)
        small = full[::2, ::2, :]
        r = got[i]
        assert (r.width, r.height) == (small.shape[1], small.shape[0])
        assert r.px_sum == int(small.sum(dtype="int64"))
        assert r.n_px == small.size
        assert r.px_md5 == hashlib.md5(small.tobytes()).hexdigest()


def test_png_histogram_matches_numpy_model(spark):
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_png_blob,
        png_histogram,
    )

    ids = [0, 3, 77]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        (r.doc_id, r.bin): r.n
        for r in png_histogram(attach_png_blob(df), n_bins=8).collect()
    }
    expect = {}
    for i in ids:
        w, h = 4 + i % 13, 3 + i % 7
        flat = (np.arange(w * h, dtype=np.int64) + i * 7) % 256
        hist = np.bincount(flat // 32, minlength=8)
        for b in np.nonzero(hist)[0]:
            expect[(i, int(b))] = int(hist[b])
    assert got == expect

    with pytest.raises(ValueError, match="divide 256"):
        png_histogram(attach_png_blob(df), n_bins=7)


# ------------------------------------------------------------- wav codec
def test_wav_codec_roundtrip_and_stdlib_cross_check():
    """Round-trip across (channels × bits), plus byte-exact agreement
    with Python's INDEPENDENT stdlib `wave` implementation in both
    directions (our decoder on wave-written files, wave on ours)."""
    import io
    import wave

    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.wav import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(3)
    for ch in (1, 2):
        for n in (1, 7, 500):
            for bits in (8, 16):
                if bits == 16:
                    a = rng.integers(-32768, 32768, size=(n, ch)).astype(
                        np.int16
                    )
                else:
                    a = rng.integers(0, 256, size=(n, ch)).astype(np.uint8)
                b = encode_wav(a, 8000, bits)
                sr, bt, d = decode_wav(b)
                assert (sr, bt) == (8000, bits) and np.array_equal(d, a)
                w = wave.open(io.BytesIO(b))
                assert (
                    w.getnchannels(),
                    w.getsampwidth() * 8,
                    w.getframerate(),
                    w.getnframes(),
                ) == (ch, bits, 8000, n)
                assert w.readframes(n) == a.tobytes()
                buf = io.BytesIO()
                ww = wave.open(buf, "wb")
                ww.setnchannels(ch)
                ww.setsampwidth(bits // 8)
                ww.setframerate(8000)
                ww.writeframes(a.tobytes())
                ww.close()
                sr2, bt2, d2 = decode_wav(buf.getvalue())
                assert (sr2, bt2) == (8000, bits) and np.array_equal(d2, a)


def test_wav_decoder_rejects_malformed():
    import struct

    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.wav import (
        decode_wav,
        encode_wav,
    )

    good = encode_wav(np.arange(10, dtype=np.int16))

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"JUNK" + good[4:])

    nonpcm = bytearray(good)
    nonpcm[20:22] = struct.pack("<H", 3)  # fmt tag: IEEE float
    with pytest.raises(ValueError, match="format tag"):
        decode_wav(bytes(nonpcm))

    with pytest.raises(ValueError, match="missing data"):
        decode_wav(good[:36])  # fmt only, data chunk gone


def test_wav_decode_meta_matches_closed_form(spark):
    """attach_wav_blob → decode_wav_meta (the real audio-decode Arrow
    pipeline) reproduces the closed-form sample rule the DuckDB gate
    uses, including the md5 of the PCM bytes."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_wav_blob,
        decode_wav_meta,
    )

    ids = [0, 1, 128, 4000]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r for r in decode_wav_meta(attach_wav_blob(df)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        n = 64 + i % 129
        s = (((np.arange(n, dtype=np.int64) * 17 + i * 31) % 65536) - 32768).astype(
            np.int16
        )
        r = got[i]
        assert (r.sample_rate, r.channels, r.bits, r.n_frames) == (8000, 1, 16, n)
        assert r.duration_ms == n * 1000 // 8000
        assert r.amp_sum == int(s.sum(dtype="int64"))
        assert r.pcm_md5 == hashlib.md5(s.tobytes()).hexdigest()


def test_wav_features_matches_numpy_model(spark):
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_wav_blob,
        wav_features,
    )

    ids = [0, 9, 4000]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r for r in wav_features(attach_wav_blob(df)).collect()}
    for i in ids:
        n = 64 + i % 129
        v = ((np.arange(n, dtype=np.int64) * 17 + i * 31) % 65536) - 32768
        r = got[i]
        assert r.n_frames == n
        assert (r.amp_min, r.amp_max) == (int(v.min()), int(v.max()))
        assert r.zero_crossings == int(np.sum(v[:-1] * v[1:] < 0))


# ------------------------------------------------------------- avi codec
def test_avi_codec_roundtrip_including_row_padding():
    """Round-trip across frame counts and frame shapes — widths 1 and
    5 exercise the DIB 4-byte row padding, and the bottom-up storage
    flip must restore row order exactly."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.avi import (
        decode_avi,
        encode_avi,
    )

    rng = np.random.default_rng(11)
    for n in (1, 4, 9):
        for h, w in ((1, 1), (2, 4), (3, 5), (7, 6)):
            frames = [
                rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                for _ in range(n)
            ]
            us, out = decode_avi(encode_avi(frames, fps=25))
            assert us == 40000 and len(out) == n
            for a, d in zip(frames, out):
                assert np.array_equal(a, d), (n, h, w)


def test_avi_decoder_rejects_malformed():
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.avi import (
        decode_avi,
        encode_avi,
    )

    good = encode_avi([np.zeros((2, 4, 3), dtype=np.uint8)], fps=25)

    with pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi(b"JUNK" + good[4:])

    compressed = good.replace(b"00db", b"00dc")
    with pytest.raises(ValueError, match="00dc"):
        decode_avi(compressed)


def test_avi_zlib_variant_roundtrips_and_other_codecs_still_raise():
    """The ZLIB stream variant (00dc chunks of zlib-deflated DIB) is
    the compressed branch's positive path; any OTHER compressed
    handler keeps the honest raise."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.avi import (
        decode_avi,
        encode_avi,
    )

    rng = np.random.default_rng(3)
    for h, w in ((2, 4), (3, 5)):
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(4)
        ]
        blob = encode_avi(frames, fps=25, compression="zlib")
        assert b"00dc" in blob and b"ZLIB" in blob
        us, out = decode_avi(blob)
        assert us == 40000 and len(out) == 4
        for a, d in zip(frames, out):
            assert np.array_equal(a, d)
    # a zlib container whose handler is forged to a real codec raises
    forged = encode_avi(frames, fps=25, compression="zlib").replace(
        b"ZLIB", b"H264"
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_avi(forged)
    with pytest.raises(ValueError, match="compression"):
        encode_avi(frames, compression="h264")


def test_sample_avi_frames_matches_closed_form(spark):
    """attach_avi_blob → sample_avi_frames keeps exactly the frames
    whose REAL container timestamp lands on the boundary and decodes
    their pixels exactly."""
    import numpy as np

    from kafka_connect_jdbc_flatten_spark.functions.multimodal import (
        attach_avi_blob,
        sample_avi_frames,
    )

    ids = [0, 6, 13]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        (r.doc_id, r.frame_idx): r
        for r in sample_avi_frames(attach_avi_blob(df), every_ms=80).collect()
    }
    expect_keys = set()
    for i in ids:
        n, w, h = 3 + i % 7, 4 + i % 5, 2 + i % 3
        for f in range(n):
            ts = f * 40000 // 1000
            if ts % 80:
                continue
            expect_keys.add((i, f))
            r = got[(i, f)]
            flat = (np.arange(h * w * 3, dtype=np.int64) + i * 13 + f * 101) % 256
            assert (r.frame_ts_ms, r.height, r.width) == (ts, h, w)
            assert r.px_sum == int(flat.sum())
    assert set(got) == expect_keys


# ------------------------------------------------- decontam / pii / mixing
def test_contaminated_docs_hand_fixture(spark):
    """Decontamination: docs sharing ≥1 word-8-gram with the benchmark
    set are flagged with their DISTINCT contaminated-gram count; clean
    docs are absent; the bench gram probe is a broadcast join."""
    from kafka_connect_jdbc_flatten_spark.functions import decontam as DC

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    docs = spark.createDataFrame(
        [
            # contains bench 8-grams 1 (alpha..hotel) and 2 (bravo..india)
            (1, bench_text),
            # one 8-gram overlap, embedded mid-document
            (2, "x y " + bench_text[: bench_text.rfind(" ")] + " z"),
            # same words, different order — no 8-gram overlap
            (3, "india hotel golf foxtrot echo delta charlie bravo alpha"),
            (4, "totally unrelated text with eight words here ok"),
            # short doc == whole-text shingle, exact-matches a short bench doc
            (5, "short probe"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text), (101, "short probe")], "doc_id long, text string"
    )
    out = DC.contaminated_docs(docs.repartition(4), bench, n=8)
    got = {r.doc_id: r.n_hits for r in out.collect()}
    assert got == {1: 2, 2: 1, 5: 1}, got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # partition invariance
    got2 = {
        r.doc_id: r.n_hits
        for r in DC.contaminated_docs(docs.repartition(13), bench, n=8).collect()
    }
    assert got2 == got


def test_contaminated_docs_matches_duckdb(spark):
    """SQL-mirror parity on a real table (same md5 gram hashing)."""
    import duckdb as _dd

    from kafka_connect_jdbc_flatten_spark.functions import decontam as DC

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    got = sorted(
        (r.doc_id, r.n_hits)
        for r in DC.contaminated_docs(docs, bench, n=8).collect()
    )
    con = _dd.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            DC.contaminated_docs_sql(
                "documents",
                "SELECT text FROM documents WHERE doc_id % 53 = 0",
                n=8,
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_contaminated_docs_over_cap_falls_back_to_shuffle_join(spark):
    """r4 review: the bench gram set is data-plane input — past the
    broadcast byte cap the probe must route through a shuffled
    equi-join (no driver/executor-sized broadcast) with identical
    output."""
    from kafka_connect_jdbc_flatten_spark.functions import decontam as DC

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    base = sorted(
        (r.doc_id, r.n_hits)
        for r in DC.contaminated_docs(docs, bench, n=8).collect()
    )
    # disable Catalyst's own size-based auto-broadcast so the plan
    # shape isolates the HINT (at real scale the stats do this)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        capped = DC.contaminated_docs(docs, bench, n=8, broadcast_cap_bytes=0)
        plan = capped._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        # under the cap the hint still forces the broadcast probe
        hinted = DC.contaminated_docs(docs, bench, n=8)
        hplan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in hplan
        assert sorted((r.doc_id, r.n_hits) for r in capped.collect()) == base
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_redact_pii_cases(spark):
    """Pattern-level redaction cases + Java-regex/RE2 parity on the
    exact same rows, and progressive counting (no double counts)."""
    import duckdb as _dd

    from kafka_connect_jdbc_flatten_spark.functions.text import (
        pii_count,
        pii_count_sql,
        redact_pii,
        redact_pii_sql,
    )

    rows = [
        (1, "mail me at jane.doe+x@sub.example.org today"),
        (2, "server 192.168.0.1 rebooted"),
        (3, "call +1 555-010-9999 now"),
        (4, "digits 123 and words, no pii"),
        (5, "both a@b.co and 10.1.2.3 and 555-123-4567!"),
        (6, ""),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.red, r.n)
        for r in df.select(
            "doc_id",
            redact_pii("text").alias("red"),
            pii_count("text").alias("n"),
        ).collect()
    }
    assert out[1] == ("mail me at <PII> today", 1)
    assert out[2] == ("server <PII> rebooted", 1)
    assert out[3] == ("call <PII> now", 1)
    assert out[4] == ("digits 123 and words, no pii", 0)
    assert out[5] == ("both <PII> and <PII> and <PII>!", 3)
    assert out[6] == ("", 0)
    assert out[7] == (None, None)
    # dialect parity on the same rows
    con = _dd.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR);"
        "INSERT INTO t VALUES "
        + ",".join(
            f"({i}, {'NULL' if s is None else repr(s)})" for i, s in rows
        )
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {redact_pii_sql('text')}, "
            f"{pii_count_sql('text')} FROM t"
        ).fetchall()
    }
    assert {k: v for k, v in out.items() if v[0] is not None} == {
        k: v for k, v in want.items() if v[0] is not None
    }


def test_mixture_weights_hand_fixture(spark):
    """Domain mixing: pinned target takes its share, the rest split the
    remaining mass equally; weight = target/actual; partition
    invariant."""
    from kafka_connect_jdbc_flatten_spark.functions.sample import (
        mixture_weights,
    )

    rows = (
        [(i, "a", "w " * 10) for i in range(2)]          # a: 20 tokens
        + [(100 + i, "b", "w " * 5) for i in range(4)]    # b: 20 tokens
        + [(200 + i, "c", "w " * 30) for i in range(2)]   # c: 60 tokens
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.domain: r
        for r in mixture_weights(
            df.repartition(5), "source", text_col="text", target={"a": 0.5}
        ).collect()
    }
    assert out["a"].n_tokens == 20 and out["a"].actual_frac == 0.2
    assert out["a"].target_frac == 0.5 and out["a"].weight == 2.5
    assert out["b"].target_frac == 0.25 and out["b"].weight == 1.25
    assert out["c"].actual_frac == 0.6 and out["c"].target_frac == 0.25
    assert abs(out["c"].weight - round(0.25 / 0.6, 6)) < 1e-9
    out2 = {
        r.domain: tuple(r)
        for r in mixture_weights(
            df.repartition(2), "source", text_col="text", target={"a": 0.5}
        ).collect()
    }
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_mixture_weights_zero_token_domain_is_null_in_both_engines(spark):
    """r4 review: a domain observed only via empty text has no finite
    sampling factor — weight must be an EXPLICIT NULL (not an engine-
    dependent x/0 artifact) in Spark and the DuckDB mirror alike."""
    import duckdb as _dd

    from kafka_connect_jdbc_flatten_spark.functions.sample import (
        mixture_weights,
        mixture_weights_sql,
    )

    rows = [
        (1, "a", "w w w w"),  # 4 tokens
        (2, "b", ""),         # zero tokens
        (3, "b", "   "),      # whitespace-only: still zero tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.domain: r for r in mixture_weights(df, "source").collect()}
    assert got["b"].n_tokens == 0
    assert got["b"].weight is None
    assert got["a"].weight is not None
    con = _dd.connect()
    con.execute(
        "CREATE VIEW docs AS SELECT * FROM (VALUES "
        "(1, 'a', 'w w w w'), (2, 'b', ''), (3, 'b', '   ')"
        ") t(doc_id, source, text)"
    )
    want = {
        r[0]: r
        for r in con.execute(mixture_weights_sql("docs", "source")).fetchall()
    }
    for d in ("a", "b"):
        assert (
            got[d].n_docs,
            got[d].n_tokens,
            got[d].actual_frac,
            got[d].target_frac,
            got[d].weight,
        ) == tuple(want[d][1:]), d


def test_chunk_dedup_hand_fixture(spark):
    """Chunk-level exact-substring dedup: a chunk duplicated later in
    the corpus is dropped (keep-first by (doc_id, chunk_idx)); the
    keeper's text is reconstructed in original chunk order; a fully-
    duplicated doc survives with empty clean_text and n_kept = 0."""
    docs = docs_df(
        spark,
        [
            (1, "a b c d"),          # chunks: "a b", "c d"
            (2, "c d a b"),          # both chunks dup'd from doc 1 -> empty
            (3, "a b x y"),          # "a b" dup'd, "x y" kept
            (4, ""),                 # no tokens -> no output row
            (5, "z"),                # short doc -> one 1-token chunk
        ],
    )
    out = D.chunk_dedup(docs.repartition(4), "text", "doc_id", chunk_tokens=2)
    got = {r.doc_id: (r.clean_text, r.n_chunks, r.n_kept) for r in out.collect()}
    assert got == {
        1: ("a b c d", 2, 2),
        2: ("", 2, 0),
        3: ("x y", 2, 1),
        5: ("z", 1, 1),
    }, got
    # partition invariance
    got2 = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_kept)
        for r in D.chunk_dedup(docs.repartition(13), "text", "doc_id", 2).collect()
    }
    assert got2 == got
    # within-doc repetition: second occurrence of the same chunk drops
    rep = docs_df(spark, [(7, "a b a b c c")])
    row = D.chunk_dedup(rep, "text", "doc_id", chunk_tokens=2).collect()[0]
    assert (row.clean_text, row.n_chunks, row.n_kept) == ("a b c c", 3, 2)
    with pytest.raises(ValueError):
        D.chunk_dedup(docs, chunk_tokens=0)


def test_unigram_logprob_hand_fixture(spark):
    """Corpus-unigram LM scoring: corpus 'a a a b' -> p(a)=3/4,
    p(b)=1/4; doc1='a a a' scores ln(3/4); doc2='b' scores ln(1/4);
    empty docs are absent; the score is partition-invariant."""
    import math

    from kafka_connect_jdbc_flatten_spark.functions import lm as LM

    docs = docs_df(spark, [(1, "a a a"), (2, "b"), (3, "")])
    out = {r.doc_id: (r.n_tokens, r.avg_logprob) for r in
           LM.unigram_logprob(docs.repartition(4), "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1][0] == 3 and out[2][0] == 1
    assert out[1][1] == pytest.approx(math.log(0.75), abs=1e-3)
    assert out[2][1] == pytest.approx(math.log(0.25), abs=1e-3)
    out2 = {r.doc_id: (r.n_tokens, r.avg_logprob) for r in
            LM.unigram_logprob(docs.repartition(13), "text", "doc_id").collect()}
    assert out2 == out


def test_chunk_dedup_text_never_rides_the_hash_shuffle(spark):
    """Chunk TEXT must move only in the doc-id regroup; the keep-first
    winner aggregate and its join exchange bare 8-byte chash keys."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = D.chunk_dedup(docs, "text", "doc_id", chunk_tokens=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange hashpartitioning\(chash[^\n]*", plan):
        assert "chunk#" not in m.group(0), m.group(0)
    assert "BroadcastNestedLoop" not in plan


def test_chunk_dedup_matches_python_model_on_random_corpus(spark):
    """Seeded random corpus vs a row-at-a-time Python reference model
    of keep-first chunk dedup (same hash → same winner ordering)."""
    import random

    rng = random.Random(2024)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    k = 4
    # python model: first (doc_id, chunk_idx) occurrence of a chunk wins
    seen, model = set(), {}
    for doc_id, text in rows:
        toks = text.split()
        chunks = [
            " ".join(toks[j : j + k]) for j in range(0, len(toks), k)
        ]
        if not chunks:
            continue
        kept = [c for c in chunks if c not in seen and not seen.add(c)]
        model[doc_id] = (" ".join(kept), len(chunks), len(kept))
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_kept)
        for r in D.chunk_dedup(
            docs_df(spark, rows).coalesce(1), "text", "doc_id", k
        ).collect()
    }
    assert got == model


def test_chunk_dedup_guards_the_position_encoding(spark):
    """r4 review: a non-integral id column used to cast to NULL under
    Spark's non-ANSI cast, NULL-ing every keep-first position and
    silently dropping the WHOLE corpus; out-of-range ids silently
    wrapped int64.  Both must raise instead."""
    import pytest

    from kafka_connect_jdbc_flatten_spark.functions import dedup as D

    # plan-time: string ids are refused outright
    sdocs = spark.createDataFrame(
        [("u1", "a b c d"), ("u2", "a b c d")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="integral"):
        D.chunk_dedup(sdocs, "text", "doc_id", 2)
    # runtime: an id outside |id| < 2^42 would overflow id*2^20 + idx
    big = spark.createDataFrame(
        [(1 << 50, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="encodable range"):
        D.chunk_dedup(big, "text", "doc_id", 2).collect()
    # in-range ids (incl. negative) still work and match the mirror's
    # arithmetic
    ok = spark.createDataFrame(
        [(-5, "a b c d"), (7, "a b x y")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.clean_text, r.n_kept)
        for r in D.chunk_dedup(ok, "text", "doc_id", 2).collect()
    }
    assert got == {-5: ("a b c d", 2), 7: ("x y", 1)}


def test_unigram_logprob_matches_python_model_on_random_corpus(spark):
    """Seeded random corpus vs a Python unigram model (approx compare:
    Python round() is banker's, the engines' is HALF_UP)."""
    import math
    import random
    from collections import Counter

    from kafka_connect_jdbc_flatten_spark.functions import lm as LM

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(9)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(40)
    ]
    freq = Counter(t for _, tx in rows for t in tx.split())
    total = sum(freq.values())
    model = {
        i: (len(toks), sum(math.log(freq[t] / total) for t in toks) / len(toks))
        for i, toks in ((i, tx.split()) for i, tx in rows)
        if toks
    }
    out = LM.unigram_logprob(docs_df(spark, rows), "text", "doc_id").collect()
    assert {r.doc_id for r in out} == set(model)
    for r in out:
        n, lp = model[r.doc_id]
        assert r.n_tokens == n
        assert r.avg_logprob == pytest.approx(lp, abs=2e-4)


def test_unigram_logprob_freq_branch_sheds_doc_ids(spark):
    """The vocab-frequency branch must aggregate (tok, count) partials
    — exactly one exchange carries (doc, tok) pairs."""
    import re

    from kafka_connect_jdbc_flatten_spark.functions import lm as LM

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        LM.unigram_logprob(docs, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    dt_exchanges = re.findall(
        r"Exchange hashpartitioning\(doc_id#\d+L?, tok#", plan
    )
    assert len(dt_exchanges) == 1, dt_exchanges


def test_unigram_logprob_heldout_oov_and_guard(spark):
    """Held-out scoring: OOV tokens get the alpha-floor probability,
    in-vocab probabilities shrink by the smoothing mass, and scoring
    a held-out set without alpha raises."""
    import math

    from kafka_connect_jdbc_flatten_spark.functions import lm as LM

    model = docs_df(spark, [(100, "a a a b")])  # N=4, V=2
    docs = docs_df(spark, [(1, "a"), (2, "zzz")])
    out = {
        r.doc_id: r.avg_logprob
        for r in LM.unigram_logprob(
            docs, "text", "doc_id", model=model, alpha=0.5
        ).collect()
    }
    den = 4 + 0.5 * (2 + 1)
    assert out[1] == pytest.approx(math.log(3.5 / den), abs=1e-3)
    assert out[2] == pytest.approx(math.log(0.5 / den), abs=1e-3)
    with pytest.raises(ValueError):
        LM.unigram_logprob(docs, model=model)  # alpha defaults to 0
    with pytest.raises(ValueError):
        LM.unigram_logprob_sql("documents", model_sql="SELECT 1")


def test_unigram_logprob_heldout_matches_python_model(spark):
    """Random docs scored under a random reference corpus with
    add-alpha smoothing: OOV terms hit the alpha floor, in-vocab the
    smoothed frequency — vs a Python model."""
    import math
    import random
    from collections import Counter

    from kafka_connect_jdbc_flatten_spark.functions import lm as LM

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(10)]
    mk = lambda n, lo, hi: [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi))))
        for i in range(n)
    ]
    model_rows = [(i, tx.replace("w9", "w0")) for i, tx in mk(25, 1, 20)]
    doc_rows = mk(30, 0, 15)  # w9 is OOV for the model
    freq = Counter(t for _, tx in model_rows for t in tx.split())
    total, V, a = sum(freq.values()), len(freq), 0.5
    den = total + a * (V + 1)
    expect = {
        i: (len(toks), sum(math.log((freq.get(t, 0) + a) / den) for t in toks) / len(toks))
        for i, toks in ((i, tx.split()) for i, tx in doc_rows)
        if toks
    }
    out = LM.unigram_logprob(
        docs_df(spark, doc_rows), "text", "doc_id",
        model=docs_df(spark, model_rows), alpha=a,
    ).collect()
    assert {r.doc_id for r in out} == set(expect)
    for r in out:
        n, lp = expect[r.doc_id]
        assert r.n_tokens == n and r.avg_logprob == pytest.approx(lp, abs=2e-4)


def test_spread_short_circuits_wide_file_scans(spark, tmp_path):
    """spread() must not force a plan->RDD conversion when the scan's
    file list already covers the core count (r4 verdict cosmetic #5):
    a >=target-file input returns the SAME DataFrame object, and a
    1-file input still repartitions up to defaultParallelism."""
    from kafka_connect_jdbc_flatten_spark.functions.util import spread

    target = spark.sparkContext.defaultParallelism
    wide = str(tmp_path / "wide")
    spark.range(0, 1000).repartition(target).write.parquet(wide)
    wdf = spark.read.parquet(wide)
    assert len(wdf.inputFiles()) >= target
    assert spread(wdf) is wdf  # metadata-only short-circuit, no shuffle

    narrow = str(tmp_path / "narrow")
    spark.range(0, 1000).coalesce(1).write.parquet(narrow)
    ndf = spread(spark.read.parquet(narrow))
    assert ndf.rdd.getNumPartitions() >= target

    # non-file-backed plans fall through to the RDD probe, no raise
    local = spread(spark.range(0, 10).coalesce(1))
    assert local.rdd.getNumPartitions() >= target
