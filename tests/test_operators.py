"""Unit tests for the pipeline extension operators (dedup, similarity,
text, multimodal) on small synthetic frames with planted structure."""

import pytest
from pyspark.sql import functions as F

from python_dtl_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "spark compiles dataframe plans into whole stage generated java code"),
    (3, "completely different words about cooking pasta with fresh tomato sauce"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_canonical(docs):
    out = dedup.exact_dedup_canonical(docs, "doc_id", ["text"])
    rows = {r["text"]: r["doc_id"] for r in out.collect()}
    assert len(rows) == 4  # 5 docs, one exact dup
    assert rows[DOCS[0][1]] == 0  # canonical = min doc_id


def test_keep_newest_canonical_election_and_history(spark):
    """keep_newest_canonical: newest fetch wins, exact time ties break
    to the larger key, and the history summary (n_crawls, first/last
    fetch) is exact per group; missing columns raise."""
    df = spark.createDataFrame(
        [
            # group u: times 5 < 9 -> doc 11 wins
            (10, "u", 5), (11, "u", 9),
            # group v: tie at 7 -> larger doc_id 22 wins
            (20, "v", 7), (22, "v", 7), (21, "v", 3),
            # singleton group
            (30, "w", 0),
        ],
        "doc_id long, canonical_url string, fetch_time long",
    )
    out = {
        r.canonical_url: r.asDict()
        for r in dedup.keep_newest_canonical(
            df, "doc_id", ["canonical_url"], "fetch_time"
        ).collect()
    }
    assert out["u"]["doc_id"] == 11 and out["u"]["fetch_time"] == 9
    assert out["u"]["n_crawls"] == 2
    assert out["u"]["first_fetch"] == 5 and out["u"]["last_fetch"] == 9
    assert out["v"]["doc_id"] == 22 and out["v"]["fetch_time"] == 7
    assert out["v"]["n_crawls"] == 3 and out["v"]["first_fetch"] == 3
    assert out["w"]["doc_id"] == 30 and out["w"]["n_crawls"] == 1
    with pytest.raises(ValueError, match="missing"):
        dedup.keep_newest_canonical(df, "doc_id", ["nope"], "fetch_time")
    # r16 advisor: key_col == time_col would build a duplicate-field
    # struct and a meaningless tie-break — explicit ValueError
    with pytest.raises(ValueError, match="distinct"):
        dedup.keep_newest_canonical(df, "doc_id", ["canonical_url"], "doc_id")


def test_keep_newest_canonical_dotted_columns(spark):
    """r16 advisor: dotted input column names must survive the struct
    construction (fixed internal field names + backtick-quoted refs),
    and the output columns carry the caller's dotted names."""
    df = spark.createDataFrame(
        [(1, "u", 4), (2, "u", 9), (3, "v", 1)],
        ["crawl.id", "url", "fetch.time"],
    )
    out = {
        r["url"]: r.asDict()
        for r in dedup.keep_newest_canonical(
            df, "crawl.id", ["url"], "fetch.time"
        ).collect()
    }
    assert out["u"]["crawl.id"] == 2 and out["u"]["fetch.time"] == 9
    assert out["u"]["n_crawls"] == 2 and out["u"]["first_fetch"] == 4
    assert out["v"]["crawl.id"] == 3 and out["v"]["n_crawls"] == 1


def test_exact_dedup_canonical_lineage(spark):
    """with_lineage=True emits the ManyToOne provenance table: every
    input row -> its content group's canonical survivor, identity rows
    for survivors, NULL content grouped like any other value (the
    null-safe join)."""
    df = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    res, mapping = dedup.exact_dedup_canonical(
        df, "doc_id", ["text"], with_lineage=True
    )
    got = {r.src_doc_id: r.kept_doc_id for r in mapping.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3}
    assert res.count() == 3  # x, y, NULL groups
    # result half unchanged by lineage mode
    plain = dedup.exact_dedup_canonical(df, "doc_id", ["text"])
    assert {tuple(r) for r in res.collect()} == {
        tuple(r) for r in plain.collect()
    }


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0  # near dup
    assert (1, 4) in pairs
    assert not any({a, b} & {2, 3} for a, b in pairs)  # unrelated docs clean


def test_minhash_lsh_matches_exact_on_planted_dups(docs):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
    }
    # LSH with 16 bands over 64 hashes has ~certain recall at J>=0.5
    assert {(0, 4), (0, 1), (1, 4)} <= got
    assert not any({a, b} & {2, 3} for a, b in got)
    # verification stage reports the exact jaccard
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert j[(0, 4)] == 1.0


def test_simhash_hamming_zero_for_exact_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, max_hamming=10).collect()
    }
    assert pairs[(0, 4)] == 0
    assert (0, 1) in pairs  # near-dup within radius
    assert (2, 3) not in pairs


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "gamma beta alpha")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["rolling_fp"] for r in text.rolling_fingerprint(df).collect()}
    assert fps[0] == fps[1]  # deterministic
    assert fps[0] != fps[2]  # order matters


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der hund und die katze und der vogel"),
            (2, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "und"


def test_quality_score_bounds(docs):
    rows = text.quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["n_words"] > 0


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "one two  three"), (1, "   "), (2, "a")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["n_tokens"] for r in text.token_count(df).collect()}
    assert got == {0: 3, 1: 0, 2: 1}


@pytest.fixture(scope="module")
def embeddings(spark):
    # three clusters: ids 0/1 nearly parallel, 2 orthogonal-ish
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.01, 0.0]),
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(embeddings):
    queries = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(embeddings, queries, k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == (1, 1)  # nearest is the near-parallel vector
    assert ranked[1] == (2, 4)


def test_embedding_near_dup(embeddings):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            embeddings, threshold=0.95, planes=6
        ).collect()
    }
    assert (0, 1) in pairs
    assert (2, 3) in pairs
    assert (0, 2) not in pairs


def test_plane_signature_matches_per_plane_literal_form(spark):
    # r20 rewrite pin: the HOF nested-literal signature must be
    # bit-identical to the original per-plane-literal chain on every
    # edge the builder can see — normal vectors, a NULL vector, a
    # too-short vector (zip_with NULL-pads), and an empty array.
    import random

    rng = random.Random(7)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(4)] for _ in range(12)]

    def old_form(vec):
        sig = F.lit(0).cast("long")
        for p, plane in enumerate(planes):
            dot = F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            sig = sig + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(0)
        return sig

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, -0.2, 0.3]),
        (2, [-1.0, 2.0, -3.0, 4.0]),
        (3, None),
        (4, [1.0, 2.0]),  # short: zip_with NULL-pads every dot
        (5, []),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    new_sig = dedup._plane_signature(planes)
    out = df.select(
        old_form(F.col("embedding")).alias("old"),
        new_sig(F.col("embedding")).alias("new"),
    )
    assert dict(out.dtypes)["new"] == dict(out.dtypes)["old"] == "bigint"
    assert out.filter(~F.col("old").eqNullSafe(F.col("new"))).count() == 0


def test_plane_signature_rejects_zero_planes(spark, embeddings):
    # r20 advice: F.lit([]) types as array<null> and lambdas over a
    # NullType variable fail ANALYSIS (an opaque JVM error far from the
    # call site); a 0-plane LSH is meaningless, so both builders refuse
    # it eagerly.
    with pytest.raises(ValueError, match="at least 1 plane"):
        dedup._plane_signature([])
    queries = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="at least 1 plane"):
        similarity.lsh_bucketed_topk(embeddings, queries, k=2, dim=4, planes=0)


def test_plan_construction_is_action_free(spark, embeddings):
    # With dim passed, building the similarity/dedup DataFrames must not
    # run any Spark job (VERDICT r01 #4: a .first()/count() per call is
    # an extra cluster round-trip at scale).  KMeans fit in ivf_topk is
    # inherently an action, so it is exempt here.
    sc = spark.sparkContext
    queries = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    sc.setJobGroup("plan-construction", "no jobs expected")
    try:
        similarity.lsh_bucketed_topk(embeddings, queries, k=2, dim=4)
        dedup.embedding_near_dup_pairs(embeddings, threshold=0.9, dim=4)
        jobs = sc.statusTracker().getJobIdsForGroup("plan-construction")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []


def test_multimodal_image_features_fake(spark):
    assets = multimodal.synth_assets(spark, n=16)
    feats = multimodal.extract_image_features(assets, fake=True)
    rows = feats.collect()
    assert len(rows) == 16
    assert all(64 <= r["width"] <= 319 for r in rows)
    # deterministic across runs
    again = multimodal.extract_image_features(assets, fake=True).collect()
    assert sorted(r["phash"] for r in rows) == sorted(r["phash"] for r in again)


def test_multimodal_decode_stub_raises(spark):
    assets = multimodal.synth_assets(spark, n=2)
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        multimodal.extract_image_features(assets, fake=False).collect()


def test_frame_sampling_fanout(spark):
    assets = multimodal.synth_assets(spark, n=8, kind="video")
    frames = multimodal.sample_frames(assets, every_n=4, fake=True)
    rows = frames.collect()
    assert len(rows) >= 8  # at least one frame per asset
    assert all(r["frame_index"] % 4 == 0 for r in rows)


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.joins import salted_join

    # heavily skewed left side: 90% of rows share key 0
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    expected = left.join(right, on=["k"], how="inner")
    got = salted_join(left, right, on=["k"], salt=8)
    assert sorted(got.columns) == sorted(expected.columns)
    assert got.count() == expected.count()
    assert got.select("k", "v", "w").subtract(expected.select("k", "v", "w")).count() == 0
    assert expected.select("k", "v", "w").subtract(got.select("k", "v", "w")).count() == 0

    # left join keeps unmatched left rows exactly once
    exp_left = left.join(right, on=["k"], how="left")
    got_left = salted_join(left, right, on=["k"], how="left", salt=8)
    assert got_left.count() == exp_left.count()


def test_lsh_dedup_keep_one_per_cluster(spark):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.dedup import lsh_dedup_keep

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about spark adaptive query execution plans",
        "a third unrelated document mentioning minhash signatures and shingles",
    ]
    rows = []
    for rep in range(4):  # 4 near-identical copies of each base text
        for i, t in enumerate(texts):
            rows.append((rep * 10 + i, t + f" v{rep}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lsh_dedup_keep(docs, n=3).collect()
    assert len(out) == 12
    clusters = {}
    for r in out:
        clusters.setdefault(r.cluster_id, []).append(r)
    # three clusters of four; exactly one keeper per cluster = min doc_id
    assert len(clusters) == 3
    for cid, members in clusters.items():
        assert len(members) == 4
        keepers = [r.doc_id for r in members if r.keep]
        assert keepers == [min(r.doc_id for r in members)]
        assert cid == min(r.doc_id for r in members)


def test_read_events_conf_is_scoped(spark):
    from python_dtl_spark.catalog import _read_events

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    df = _read_events(spark, "/root/testdata/sf0.001")
    assert spark.conf.get(key, None) == before  # no session-state leak
    # the lazy read still executes with the captured conf, and a normal
    # parquet read in the same session is unaffected
    # TIMESTAMP(NANOS) data arrives via the nanos-as-long branch as
    # TIMESTAMP; generator versions that write micros read natively as
    # TIMESTAMP_NTZ and pass through unchanged — both are timestamps
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    assert df.limit(1).count() == 1
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    assert nation.limit(1).count() == 1


def test_lsh_dedup_keep_reliable_checkpoint(spark, tmp_path):
    import os

    from python_dtl_spark.operators.dedup import lsh_dedup_keep

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about spark adaptive query execution plans",
    ]
    rows = []
    for rep in range(3):
        for i, t in enumerate(texts):
            rows.append((rep * 10 + i, t + f" v{rep}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    # max_iter high enough that the fixpoint loop truncates the plan
    # through the reliable checkpoint at least twice; max_driver_edges=0
    # forces the distributed loop tier (the driver union-find tier
    # never touches the checkpoint dir)
    out = lsh_dedup_keep(
        docs, n=3, checkpoint_dir=ckpt, max_iter=5, max_driver_edges=0
    ).collect()
    assert len(out) == 6
    keepers = sorted(r.doc_id for r in out if r.keep)
    assert keepers == [0, 1]
    # reliable checkpoint files actually landed in the requested dir
    ckpt_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert ckpt_files, "no reliable checkpoint data written"


def test_asof_join_backward(spark):
    from python_dtl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 15, 150.0), (3, 5, 50.0)],
        "uid long, t long, lv double",
    )
    right = spark.createDataFrame(
        [(1, 8, 1.0), (1, 12, 2.0), (1, 20, 3.0), (2, 30, 4.0)],
        "uid long, t long, rv double",
    )
    out = {
        (r.uid, r.t): (r.t_right, r.rv)
        for r in asof_join(left, right, on="t", by="uid").collect()
    }
    assert out[(1, 10)] == (8, 1.0)  # latest right at-or-before t=10
    assert out[(1, 20)] == (20, 3.0)  # equal timestamps match
    assert out[(2, 15)] == (None, None)  # right row is after -> no match
    assert out[(3, 5)] == (None, None)  # no right rows for uid=3
    assert len(out) == 4  # left rows preserved exactly once


def test_asof_join_global_requires_opt_in(spark):
    from python_dtl_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10)], ["t", "lv"])
    right = spark.createDataFrame([(0, 7)], ["t", "rv"])
    with pytest.raises(ValueError, match="ONE partition"):
        asof_join(left, right, on="t")
    got = asof_join(left, right, on="t", allow_global=True).collect()
    assert got[0]["rv"] == 7


def test_asof_join_forward_and_tolerance(spark):
    from python_dtl_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, "a"), (1, 100, "b")], "uid long, t long, k string")
    right = spark.createDataFrame([(1, 12, 9.0), (1, 300, 8.0)], "uid long, t long, rv double")
    fwd = {
        (r.uid, r.t): (r.t_right, r.rv)
        for r in asof_join(left, right, on="t", by="uid", direction="forward").collect()
    }
    assert fwd[(1, 10)] == (12, 9.0)
    assert fwd[(1, 100)] == (300, 8.0)
    tol = {
        (r.uid, r.t): (r.t_right, r.rv)
        for r in asof_join(
            left, right, on="t", by="uid", direction="forward", tolerance_seconds=50
        ).collect()
    }
    assert tol[(1, 10)] == (12, 9.0)
    assert tol[(1, 100)] == (None, None)  # 300 - 100 > 50 -> nulled


def test_top_n_per_group_and_running_total(spark):
    from python_dtl_spark.operators.windows import running_total, top_n_per_group

    df = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 9.0), (1, 3, 9.0), (2, 4, 1.0)],
        "g long, id long, v double",
    )
    top = top_n_per_group(df, ["g"], [F.desc("v"), F.asc("id")], n=2)
    got = {(r.g, r.rank): r.id for r in top.collect()}
    assert got == {(1, 1): 2, (1, 2): 3, (2, 1): 4}  # ties broken by id

    rt = running_total(df, ["g"], [F.asc("id")], "v")
    vals = {r.id: r.running_total for r in rt.collect()}
    assert vals == {1: 5.0, 2: 14.0, 3: 23.0, 4: 1.0}


def test_range_join_point_in_interval(spark):
    from python_dtl_spark.operators.joins import range_join_point_in_interval

    points = spark.createDataFrame(
        [(1, 50, "p1"), (1, 150, "p2"), (1, 7200, "p3"), (2, 50, "p4")],
        "g long, t long, tag string",
    )
    intervals = spark.createDataFrame(
        [(1, 0, 100, "i1"), (1, 40, 60, "i2"), (1, 7000, 8000, "i3"), (2, 500, 600, "i4")],
        "g long, s long, e long, name string",
    )
    out = range_join_point_in_interval(
        points, intervals, point_col="t", start_col="s", end_col="e",
        by="g", bucket_seconds=100,
    )
    got = {(r.tag, r.name) for r in out.collect()}
    # p1 in both overlapping intervals; p2 in none; p3 spans bucket
    # boundaries inside i3; p4's group has no covering interval
    assert got == {("p1", "i1"), ("p1", "i2"), ("p3", "i3")}


def test_time_rollup_grains_compose(spark):
    from python_dtl_spark.operators.rollup import time_rollup

    df = spark.createDataFrame(
        [
            ("2024-01-01 10:15:00", "a", 1.0),
            ("2024-01-01 10:45:00", "a", 3.0),
            ("2024-01-01 11:05:00", "a", 5.0),
            ("2024-01-02 09:00:00", "b", 7.0),
        ],
        "ts string, k string, v double",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "k", "v")
    out = time_rollup(df, "ts", ["k"], ["v"], ["hour", "day"]).collect()
    hours = {(str(r.bucket_start), r.k): (r.n_rows, r.sum_v, r.avg_v)
             for r in out if r.grain == "hour"}
    days = {(str(r.bucket_start), r.k): (r.n_rows, r.sum_v, r.avg_v)
            for r in out if r.grain == "day"}
    assert hours[("2024-01-01 10:00:00", "a")] == (2, 4.0, 2.0)
    assert hours[("2024-01-01 11:00:00", "a")] == (1, 5.0, 5.0)
    assert days[("2024-01-01 00:00:00", "a")] == (3, 9.0, 3.0)
    assert days[("2024-01-02 00:00:00", "b")] == (1, 7.0, 7.0)

    import pytest

    with pytest.raises(ValueError):
        time_rollup(df, "ts", ["k"], ["v"], ["week", "day"])


def test_hash_split_deterministic_and_partitioning_invariant(spark):
    from python_dtl_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k: r.split for r in hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    # same assignment regardless of physical layout
    b = {r.k: r.split for r in hash_split(df.repartition(13), "k", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b
    counts = {}
    for v in a.values():
        counts[v] = counts.get(v, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # partitions are exhaustive and disjoint by construction (one label per row)
    assert sum(counts.values()) == 2000
    # a different seed reshuffles membership
    c = {r.k: r.split for r in hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="x").collect()}
    assert a != c


def test_stratified_and_plain_sampling(spark):
    import pytest

    from python_dtl_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, key_col="k").collect()
    en = sum(1 for r in out if r.lang == "en") / 1000
    de = sum(1 for r in out if r.lang == "de") / 1000
    assert 0.4 < en < 0.6 and 0.05 < de < 0.16

    samp = deterministic_sample(df, "k", 0.25)
    n1, n2 = samp.count(), deterministic_sample(df.repartition(7), "k", 0.25).count()
    assert n1 == n2 and 0.2 < n1 / 2000 < 0.3

    with pytest.raises(ValueError):
        deterministic_sample(
            df.selectExpr("CAST(k AS DOUBLE) AS k", "lang"), "k", 0.5
        )


def test_ivf_topk_recall_on_clustered_vectors(spark):
    import math
    import random

    rng = random.Random(5)
    # 3 well-separated clusters of 40 vectors in 8-d
    centers = [[10.0 * (1 if d == c else 0) for d in range(8)] for c in range(3)]
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [c[d] + rng.gauss(0, 0.5) for d in range(8)]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(corpus, queries, k=5)
    approx = similarity.ivf_topk(corpus, queries, k=5, n_centroids=6, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # probing half the centroids on clearly clustered data: full recall
    assert len(a & e) / len(e) >= 0.9
    ranks = [r.rank for r in approx.collect() if r.query_id == 0]
    assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_csv_json_round_trip(spark, tmp_path):
    """Export a DTL result as csv, json and orc, re-import each through the
    engine, and get the same rows back (formats beyond the reference's
    parquet-only surface, io.py:41,72)."""
    from python_dtl_spark.compiler import Engine
    from python_dtl_spark.sources import FileSystemExporter, FileSystemImporter

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.25)], "k long, s string, v double"
    )
    root = str(tmp_path)
    src.write.parquet(f"{root}/input.parquet")

    script = """
    WITH input AS IMPORT 'input';
    WITH output AS SELECT k, s, v * 2.0 AS v2 FROM input;
    EXPORT output TO 'output';
    """
    for fmt in ("csv", "json", "orc"):
        out_root = f"{root}/out_{fmt}"
        engine = Engine(spark, FileSystemImporter(spark, root), ordered=False)
        exporter = FileSystemExporter(out_root, fmt=fmt)
        for loc, table in engine.run_script(script):
            exporter.export_table(loc, table.public_df())
        back = FileSystemImporter(spark, out_root, fmt=fmt).import_table("output")
        got = {(r.k, r.s, r.v2) for r in back.collect()}
        assert got == {(1, "a", 3.0), (2, "b", -4.0), (3, "c", 0.5)}, fmt


def test_event_deltas(spark):
    from python_dtl_spark.operators.windows import event_deltas

    df = spark.createDataFrame(
        [(1, 100), (1, 160), (1, 400), (2, 50)], "uid long, ts long"
    )
    out = {(r.uid, r.ts): r.delta_seconds for r in event_deltas(df, ["uid"], "ts").collect()}
    assert out == {(1, 100): None, (1, 160): 60.0, (1, 400): 240.0, (2, 50): None}


def test_event_deltas_numeric_epoch_micros_no_overflow(spark):
    # Numeric ts columns stay on their own axis (plain double subtraction);
    # values large enough to overflow unix_micros(cast-to-timestamp) must
    # not be routed through the timestamp branch.
    from python_dtl_spark.operators.windows import event_deltas

    us = 1_700_000_000_000_000  # epoch micros, would overflow int64 as micros-of-micros
    df = spark.createDataFrame(
        [(1, us), (1, us + 2_500_000)], "uid long, ts long"
    )
    out = {r.ts: r.delta_seconds for r in event_deltas(df, ["uid"], "ts").collect()}
    assert out == {us: None, us + 2_500_000: 2_500_000.0}


def test_event_deltas_timestamp(spark):
    from python_dtl_spark.operators.windows import event_deltas

    df = spark.sql(
        "SELECT * FROM VALUES (1, timestamp'2024-01-01 00:00:00'),"
        " (1, timestamp'2024-01-01 00:00:01.5') AS t(uid, ts)"
    )
    deltas = sorted(
        r.delta_seconds
        for r in event_deltas(df, ["uid"], "ts").collect()
        if r.delta_seconds is not None
    )
    assert deltas == [1.5]


def test_chunk_documents_overlap_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "xy"), (2, "")], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_index): (r.chunk_start, r.chunk_text)
        for r in text.chunk_documents(docs, chunk_size=5, overlap=2).collect()
    }
    # stride 3: starts 1,4,7 for the 10-char doc; full chunks overlap by 2
    assert out[(0, 0)] == (1, "abcde")
    assert out[(0, 1)] == (4, "defgh")
    assert out[(0, 2)] == (7, "ghij")
    # short and empty docs still yield exactly one chunk
    assert out[(1, 0)] == (1, "xy")
    assert out[(2, 0)] == (1, "")
    assert len(out) == 5
    with pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(docs, chunk_size=4, overlap=4)


def test_tfidf_top_terms_ranks_rare_terms_first(spark):
    docs = spark.createDataFrame(
        [
            (0, "common common unique0"),
            (1, "common unique1 unique1"),
            (2, "common plain"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(docs, k=2).collect()
    top = {r.doc_id: r.term for r in out if r.rank == 1}
    # 'common' appears in every doc (idf ln(4/4)=0) so the doc-specific
    # terms must outrank it
    assert top == {0: "unique0", 1: "unique1", 2: "plain"}


def test_l2_normalize_and_quantize_zero_vector_safe(spark):
    from python_dtl_spark.operators import embeddings as emb

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    norm = {r.vec_id: (r.l2_norm, r.embedding_unit) for r in emb.l2_normalize(df).collect()}
    assert norm[0][0] == 5.0 and norm[0][1] == [0.6, 0.8]
    assert norm[1][0] == 0.0 and norm[1][1] == [0.0, 0.0]  # no NaN/NULL

    q = {r.vec_id: (r.q_scale, r.embedding_q8) for r in emb.quantize_int8(df).collect()}
    assert q[0][1] == [95, 127]  # round(3*127/4)=95
    assert q[0][0] == 4.0 / 127.0
    assert q[1] == (0.0, [0, 0])


def test_contamination_pairs_planted_leak(spark):
    train = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog by the river"),
            (1, "an entirely unrelated training document about query planning"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog by the sea"),
            (101, "nothing in common with anything whatsoever here today"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.train_id, r.eval_id): (r.common, r.overlap)
        for r in dedup.contamination_pairs(train, evals, n=3, min_common=5).collect()
    }
    assert set(out) == {(0, 100)}  # only the planted leak
    common, overlap = out[(0, 100)]
    assert common >= 5 and 0.5 < overlap <= 1.0


def test_pack_token_budget_window_semantics(spark):
    docs = spark.createDataFrame(
        [(i, 300) for i in range(8)], "doc_id long, n_tokens long"
    )
    out = text.pack_token_budget(docs, budget=1000, num_groups=1)
    rows = {r.doc_id: (r.seq_index, r.seq_offset) for r in out.collect()}
    # one group, docs in id order, 300 tokens each, budget 1000:
    # starts 0,300,600,900,1200,... -> bins 0,0,0,0,1,1,1,2
    assert [rows[i][0] for i in range(8)] == [0, 0, 0, 0, 1, 1, 1, 2]
    assert rows[0] == (0, 0) and rows[4] == (1, 200)
    # deterministic under repartitioning
    again = {
        r.doc_id: (r.seq_index, r.seq_offset)
        for r in text.pack_token_budget(
            docs.repartition(7), budget=1000, num_groups=1
        ).collect()
    }
    assert again == rows


def test_exporter_output_compaction(spark, tmp_path):
    import os

    from python_dtl_spark.sources import FileSystemExporter

    df = spark.range(0, 1000).repartition(16)
    out = str(tmp_path / "compact")
    FileSystemExporter(out, num_output_files=2).export_table("t", df)
    parts = [
        f for f in os.listdir(os.path.join(out, "t.parquet"))
        if f.startswith("part-")
    ]
    assert len(parts) == 2
    back = spark.read.parquet(os.path.join(out, "t.parquet"))
    assert back.count() == 1000


def test_contamination_from_split_matches_two_frame_variant(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog by the river", "train"),
        (1, "an entirely unrelated training document about query planning", "train"),
        (100, "the quick brown fox jumps over the lazy dog by the sea", "test"),
        (101, "nothing in common with anything whatsoever here today", "test"),
        (200, "validation doc which must not appear anywhere at all", "val"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    one_pass = {
        (r.train_id, r.eval_id, r.common, r.eval_size, r.overlap)
        for r in dedup.contamination_pairs_from_split(df, n=3, min_common=5).collect()
    }
    two_frame = {
        (r.train_id, r.eval_id, r.common, r.eval_size, r.overlap)
        for r in dedup.contamination_pairs(
            df.filter("split = 'train'").select("doc_id", "text"),
            df.filter("split = 'test'").select("doc_id", "text"),
            n=3,
            min_common=5,
        ).collect()
    }
    assert one_pass == two_frame and len(one_pass) == 1


def test_cosine_topk_refuses_oversized_broadcast_query_set(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        similarity.cosine_topk(
            corpus,
            queries,
            num_queries=similarity.MAX_BROADCAST_QUERIES + 1,
        )
    # a truthful hint under the bound still works
    out = similarity.cosine_topk(corpus, queries, k=1, num_queries=2)
    assert out.count() == 2


def _sql_fold_cosine_topk(corpus, queries, k, include_self):
    """The exact tier as it was a SQL expression: a broadcast cross join
    scoring every pair with the ``zip_with``/``aggregate`` fold.  Kept
    here only as the reference the fold kernel must match bit for bit."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    c = similarity._spread(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._to_double(F.col("embedding")).alias("__cv"),
    ).withColumn("__cn", similarity._norm(F.col("__cv")))
    q = queries.select(
        F.col("query_id"), similarity._to_double(F.col("embedding")).alias("__qv")
    ).withColumn("__qn", similarity._norm(F.col("__qv")))
    joined = c.join(broadcast(q), how="cross")
    if not include_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine",
        similarity._dot(F.col("__cv"), F.col("__qv"))
        / (F.col("__cn") * F.col("__qn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _ranked_bits(df):
    """(query_id, neighbor_id, rank) -> cosine bits as int64 (None for
    NULL), so -0.0/0.0 and NaN payloads count as different values."""
    import numpy as np

    rows = df.collect()
    bits = np.array(
        [0.0 if r.cosine is None else r.cosine for r in rows], dtype=np.float64
    ).view("i8")
    return {
        (r.query_id, r.neighbor_id, r.rank): None if r.cosine is None else int(b)
        for r, b in zip(rows, bits)
    }


def _assert_kernel_matches_fold(corpus, queries, k, include_self):
    want = _ranked_bits(_sql_fold_cosine_topk(corpus, queries, k, include_self))
    got = _ranked_bits(
        similarity.cosine_topk(corpus, queries, k=k, include_self=include_self)
    )
    assert got == want, (k, include_self)
    return want


def test_cosine_topk_kernel_bits_equal_sql_fold_on_embeddings(spark):
    """Every pair of the sf0.001 embeddings (k = corpus size): same
    (query, neighbor, rank) and the same cosine bits as the SQL fold."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    n = emb.count()
    want = _assert_kernel_matches_fold(emb, queries, n, include_self=False)
    assert len(want) == n * (n - 1)


# edge vectors: each line names what it exercises
EDGE_CORPUS = [
    (1, [1.0, 2.0, 0.0]),
    (2, [1.0, 2.0, 0.0]),  # exact duplicate of 1: tied cosines
    (3, None),  # NULL vector
    (4, [1.0, None, 0.0]),  # NULL element
    (5, [1.0, 2.0, 3.0, 4.0]),  # dimension mismatch with the rest
    (6, [-1.0, 0.0, 0.0]),
    (7, [0.0, 1.0, 0.0]),
    (8, [10.0, 0.0, 1e-160]),  # with 9: the dot underflows to -0.0 cosine
    (9, [0.0, 10.0, -1e-163]),
    (10, [1e200, 1e200, 0.0]),  # overflowing norm: NaN cosines
    (14, [1e200, 0.0, 1e200]),  # with 10: inf / inf
    (11, [1.0, 0.0, 0.0]),  # +0.0 against 9, tied with 8's -0.0
    (None, [1.0, 2.0, 0.0]),  # NULL id
    (12, [0.5, 0.25, 0.125]),
    (13, [3.0, 1.0, 2.0]),
]


def _edge_frames(spark, rows, id_type="long"):
    corpus = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    return corpus, corpus.select(F.col("vec_id").alias("query_id"), "embedding")


@pytest.mark.parametrize("include_self", [True, False])
def test_cosine_topk_kernel_bits_equal_sql_fold_on_edge_vectors(
    spark, monkeypatch, include_self
):
    corpus, queries = _edge_frames(spark, EDGE_CORPUS)
    got = _assert_kernel_matches_fold(corpus, queries, 50, include_self)
    bits = set(got.values())
    assert None in bits  # NULL cosines
    assert 0 in bits and -(1 << 63) in bits  # +0.0 and -0.0
    assert any(
        b is not None and (b >> 52) & 0x7FF == 0x7FF and b & ((1 << 52) - 1)
        for b in bits
    )  # NaN
    _assert_kernel_matches_fold(corpus, queries, 2, include_self)
    # k larger than a chunk: one corpus row per kernel step
    monkeypatch.setattr(similarity, "_KERNEL_CELLS", 1)
    for k in (2, 50):
        _assert_kernel_matches_fold(corpus, queries, k, include_self)
    # string ids (the NULL id stays NULL)
    s_rows = [(None if i is None else f"v{i:02d}", v) for i, v in EDGE_CORPUS]
    s_corpus, s_queries = _edge_frames(spark, s_rows, "string")
    _assert_kernel_matches_fold(s_corpus, s_queries, 3, include_self)
    # an empty query set
    empty = queries.filter(F.lit(False))
    assert _assert_kernel_matches_fold(corpus, empty, 3, include_self) == {}


def test_cosine_topk_kernel_zero_vector_follows_divide_semantics(spark):
    """A zero vector makes the divisor 0: NULL cosine with ANSI off, a
    DIVIDE_BY_ZERO failure with ANSI on — as the SQL fold does."""
    rows = EDGE_CORPUS + [(15, [0.0, 0.0, 0.0])]
    corpus, queries = _edge_frames(spark, rows)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        for include_self in (True, False):
            _assert_kernel_matches_fold(corpus, queries, 50, include_self)
            _assert_kernel_matches_fold(corpus, queries, 2, include_self)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for fn in (_sql_fold_cosine_topk, similarity.cosine_topk):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                fn(corpus, queries, k=2, include_self=False).collect()
        # the zero vector alone against itself is an excluded self pair
        lone = corpus.filter(F.col("vec_id") == 15)
        lone_q = queries.filter(F.col("query_id") == 15)
        _assert_kernel_matches_fold(lone, lone_q, 2, include_self=False)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_cosine_topk_rejects_mixed_id_types_when_excluding_self(spark):
    corpus, _ = _edge_frames(spark, EDGE_CORPUS)
    queries = corpus.select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="types differ"):
        similarity.cosine_topk(corpus, queries, k=2)
    assert similarity.cosine_topk(corpus, queries, k=2, include_self=True).count()


def test_knn_classify_exact_tier_bounds_its_query_collect(spark, monkeypatch):
    """The exact tier collects at most MAX_BROADCAST_QUERIES + 1 query
    rows and refuses past the bound; the num_vectors hint refuses before
    any job runs."""
    monkeypatch.setattr(similarity, "MAX_BROADCAST_QUERIES", 5)
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(6)],
        "vec_id long, embedding array<double>, label int",
    )
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES=5"):
        similarity.knn_classify(df, k=2)
    sc = spark.sparkContext
    sc.setJobGroup("knn-guard", "no jobs expected")
    try:
        with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES=5"):
            similarity.knn_classify(df, k=2, num_vectors=6)
        jobs = sc.statusTracker().getJobIdsForGroup("knn-guard")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []
    assert similarity.knn_classify(df.filter("vec_id < 5"), k=2).count() == 5


def _topk_sql_vote(corpus, k):
    """The exact kNN tier as it was composed: :func:`cosine_topk`
    leave-one-out neighbors, then the label join, vote aggregate and
    winner window in SQL.  Kept here only as the reference the fused
    kernel must match."""
    from pyspark.sql import Window

    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    topk = similarity.cosine_topk(corpus, queries, k=k, include_self=False)
    labels = corpus.filter(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("__nl")
    )
    votes = (
        topk.join(labels, on="neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("votes"), F.min("rank").alias("__best"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__best"), F.asc("__nl")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("__nl").alias("predicted_label"),
            "votes",
        )
    )


def _assert_knn_matches_reference(corpus, k):
    got = similarity.knn_classify(corpus, k=k)
    want = _topk_sql_vote(corpus, k)
    assert got.schema == want.schema
    got, want = got.collect(), want.collect()
    assert sorted(got) == sorted(want), k
    return want


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_knn_classify_exact_kernel_equals_topk_sql_vote(spark, sf):
    emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
    for k in (10, 3):
        assert len(_assert_knn_matches_reference(emb, k)) == emb.count()


def _edge_knn(spark, rows, id_type="long", label_type="int"):
    # labels cycle through three values; every fourth row is unlabeled
    values = ("a", "b", "c") if label_type == "string" else (0, 1, 2)
    labeled = [
        (i, v, None if n % 4 == 3 else values[n % 3])
        for n, (i, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        labeled, f"vec_id {id_type}, embedding array<double>, label {label_type}"
    )


def test_knn_classify_exact_kernel_equals_topk_sql_vote_on_edge_vectors(spark):
    """EDGE_CORPUS (NULL vector and element, wrong length, NULL id,
    duplicate vectors, -0.0 and NaN cosines) with NULL labels, for k
    below and above the corpus size; string ids and labels; a zero
    vector under ANSI off (NULL cosine) and on (DIVIDE_BY_ZERO on both
    paths)."""
    corpus = _edge_knn(spark, EDGE_CORPUS)
    for k in (1, 2, 4, 50):
        _assert_knn_matches_reference(corpus, k)
    s_rows = [(None if i is None else f"v{i:02d}", v) for i, v in EDGE_CORPUS]
    _assert_knn_matches_reference(_edge_knn(spark, s_rows, "string", "string"), 3)
    assert _assert_knn_matches_reference(corpus.filter(F.lit(False)), 3) == []
    with_zero = _edge_knn(spark, EDGE_CORPUS + [(15, [0.0, 0.0, 0.0])])
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        for k in (2, 50):
            _assert_knn_matches_reference(with_zero, k)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for fn in (_topk_sql_vote, similarity.knn_classify):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                fn(with_zero, k=2).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_knn_classify_exact_tier_refuses_duplicate_ids(spark):
    """A duplicated id would be both a query and another query's self
    pair; the exact tier raises once its collect has seen the ids, and
    the result never runs.  Duplicated NULL ids are never scored, so
    they pass."""
    dup = _edge_knn(spark, EDGE_CORPUS + [(1, [0.0, 1.0, 1.0])])
    with pytest.raises(ValueError, match="unique ids"):
        similarity.knn_classify(dup, k=2)
    nulls = _edge_knn(spark, EDGE_CORPUS + [(None, [0.0, 1.0, 1.0])])
    _assert_knn_matches_reference(nulls, 2)


def test_lsh_topk_wrong_dim_fails_fast(spark):
    # zip_with would NULL-pad on a wrong dim, silently collapsing every
    # signature to bucket 0 — the plan-side guard must raise instead
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(Exception, match="dim mismatch: expected 8, got 3"):
        similarity.lsh_bucketed_topk(corpus, queries, k=2, dim=8).collect()
    assert similarity.lsh_bucketed_topk(corpus, queries, k=2, dim=3).count() > 0


def test_embedding_near_dup_wrong_dim_fails_fast(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="dim mismatch: expected 5, got 2"):
        dedup.embedding_near_dup_pairs(df, threshold=0.9, dim=5).collect()


def test_plan_construction_touches_no_rdd(spark, monkeypatch):
    """Building dedup/similarity plans must not force physical planning:
    DataFrame.rdd conversion during construction defeats lazy-plan reuse
    (VERDICT r2 #5).  Poison the .rdd property and construct every plan."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("DataFrame.rdd accessed during plan construction")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    docs = spark.createDataFrame(
        [(i, f"some text body {i % 4} repeated tokens here") for i in range(20)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.25, -0.5]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.select(F.col("vec_id").alias("query_id"), "embedding")
    # construction only — no actions
    dedup.minhash_lsh_pairs(docs)
    dedup.ngram_jaccard_pairs(docs)
    dedup.simhash_near_pairs(docs)
    dedup.embedding_near_dup_pairs(vecs, dim=4)
    dedup.contamination_pairs(docs, docs)
    similarity.cosine_topk(vecs, queries, num_queries=20)
    similarity.lsh_bucketed_topk(vecs, queries, dim=4)
    similarity.ivf_topk(vecs, queries)


def test_importer_invalidate_rereads_overwritten_table(spark, tmp_path):
    from python_dtl_spark.sources import FileSystemImporter

    p = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(p)
    imp = FileSystemImporter(spark, str(tmp_path))
    assert imp.import_table("t").count() == 5
    spark.range(9).write.mode("overwrite").parquet(p)
    imp.invalidate("t")
    assert imp.import_table("t").count() == 9


def test_run_auto_invalidates_importer_on_export(spark, tmp_path):
    """input_dir == output_dir round-trips: run() invalidates the
    importer's memo for each exported name, so a later IMPORT of an
    overwritten table re-reads the new data instead of the stale
    memoized plan — matching the reference's re-read-per-IMPORT
    semantics (io.py:31-42) without giving up lazy scans."""
    import os

    from python_dtl_spark.runtime import run
    from python_dtl_spark.sources import FileSystemExporter, FileSystemImporter

    root = str(tmp_path)
    spark.range(5).selectExpr("id AS k").write.parquet(
        os.path.join(root, "u.parquet")
    )
    spark.range(3).selectExpr("id + 100 AS k").write.parquet(
        os.path.join(root, "t.parquet")
    )
    imp = FileSystemImporter(spark, root)
    exp = FileSystemExporter(root)
    # script A memoizes u (5 rows)
    run(
        "WITH u AS IMPORT 'u'; WITH a AS SELECT k FROM u; EXPORT a TO 'probe';",
        spark=spark, importer=imp, exporter=exp,
    )
    # script B overwrites u from t (3 rows) — must drop u's memo
    run(
        "WITH t AS IMPORT 't'; WITH b AS SELECT k FROM t; EXPORT b TO 'u';",
        spark=spark, importer=imp, exporter=exp,
    )
    # script C re-imports u: sees the 3 new rows, not the stale 5
    run(
        "WITH u AS IMPORT 'u'; WITH c AS SELECT k FROM u; EXPORT c TO 'after';",
        spark=spark, importer=imp, exporter=exp,
    )
    got = sorted(
        r.k for r in spark.read.parquet(os.path.join(root, "after.parquet")).collect()
    )
    assert got == [100, 101, 102]


def test_sessionize_gap_boundaries(spark):
    from datetime import datetime

    from python_dtl_spark.operators import windows as W

    t = lambda m: datetime(2024, 1, 1, 10, m)
    rows = [
        # user 1: two sessions split by a 45-min gap; second has 1 event
        (1, t(0)), (1, t(10)), (1, t(55)),
        # user 2: equal timestamps never open a session
        (2, t(0)), (2, t(0)), (2, t(29)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.user_id, r.session_seq): (r.session_start, r.session_end, r.n_events)
        for r in W.sessionize(df, gap_minutes=30).collect()
    }
    assert out[(1, 1)] == (t(0), t(10), 2)
    assert out[(1, 2)] == (t(55), t(55), 1)
    assert out[(2, 1)] == (t(0), t(29), 3)
    # exactly 30 min is NOT a new session (strict > gap)
    df2 = spark.createDataFrame([(3, t(0)), (3, t(30))], "user_id long, ts timestamp")
    assert W.sessionize(df2, gap_minutes=30).count() == 1


def test_keep_one_from_pairs_transitive_chain(spark):
    # chain 0-1, 1-2, 2-3 is ONE component -> min-label must propagate
    # transitively, not just one hop; 4 is a singleton keeper
    ids = spark.createDataFrame([(i,) for i in range(5)], "vec_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = {r.vec_id: (r.cluster_id, r.keep) for r in
           dedup.keep_one_from_pairs(ids, pairs).collect()}
    assert out == {0: (0, True), 1: (0, False), 2: (0, False),
                   3: (0, False), 4: (4, True)}


def test_keep_one_driver_and_loop_tiers_agree(spark):
    """r20: below MAX_DRIVER_COMPONENT_EDGES the components are solved
    by a guarded driver union-find; above it by distributed min-label
    propagation.  Both tiers must produce identical labels — including
    the out-of-universe-endpoint guard (an endpoint absent from ``ids``
    must not bridge two in-universe components)."""
    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 5, 6, 9)], "vec_id long"
    )
    pairs = spark.createDataFrame(
        # 0-1-2 one component; 5-6 another; 9 singleton; the 2-100-5
        # path runs through id 100 which is NOT in the universe, so it
        # must NOT merge the two components
        [(0, 1), (1, 2), (5, 6), (2, 100), (100, 5)],
        "id_a long, id_b long",
    )
    expect = {0: (0, True), 1: (0, False), 2: (0, False),
              5: (5, True), 6: (5, False), 9: (9, True)}
    for cap in (0, None):  # 0 forces the loop tier; None the driver tier
        out = {
            r.vec_id: (r.cluster_id, r.keep)
            for r in dedup.keep_one_from_pairs(
                ids, pairs, max_driver_edges=cap
            ).collect()
        }
        assert out == expect, f"max_driver_edges={cap}: {out}"


def test_lsh_dedup_driver_and_loop_tiers_agree(spark):
    """r20 tier equivalence for lsh_dedup_keep: same clusters and
    keepers from the driver union-find and the distributed loop."""
    from python_dtl_spark.operators.dedup import lsh_dedup_keep

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about spark adaptive query execution plans",
        "a third unrelated document mentioning minhash signatures and shingles",
    ]
    rows = []
    for rep in range(4):
        for i, t in enumerate(texts):
            rows.append((rep * 10 + i, t + f" v{rep}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = {}
    for cap in (0, None):
        res[cap] = sorted(
            (r.doc_id, r.cluster_id, r.keep)
            for r in lsh_dedup_keep(docs, n=3, max_driver_edges=cap).collect()
        )
    assert res[0] == res[None]
    assert len(res[0]) == 12


def test_grouped_percentiles_discrete_elements(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [(g, float(v)) for g in (0, 1) for v in range(1, 11)], "g int, v double"
    )
    out = {r.g: (r.p5, r.p9, r.p99) for r in
           stats.grouped_percentiles(df, "v", ["g"], [0.5, 0.9, 0.99]).collect()}
    # discrete: outputs are input elements (5 has cume_dist 0.5 exactly)
    assert out[0] == (5.0, 9.0, 10.0)
    assert out[1] == (5.0, 9.0, 10.0)


def test_pivot_and_rollup_plan_construction_action_free(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        "r string, p string, v double",
    )
    sc = spark.sparkContext
    sc.setJobGroup("pivot-construction", "no jobs expected")
    try:
        pv = stats.pivot_table(df, "r", "p", ["x", "y"], "v", agg="sum")
        ru = stats.rollup_agg(df, ["r", "p"], [F.sum("v").alias("s")])
        jobs = sc.statusTracker().getJobIdsForGroup("pivot-construction")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []
    assert set(pv.columns) == {"r", "x", "y"}
    got = {r.r: (r.x, r.y) for r in pv.collect()}
    assert got == {"a": (1.0, 2.0), "b": (3.0, None)}
    rows = {(r.r, r.p, r.grouping_id): r.s for r in ru.collect()}
    assert rows[("a", None, 1)] == 3.0
    assert rows[(None, None, 3)] == 6.0


def test_multimodal_audio_and_frames_fake(spark):
    audio = multimodal.synth_assets(spark, n=16, kind="audio")
    feats = multimodal.extract_audio_features(audio, fake=True).collect()
    assert len(feats) == 16
    assert all(r["sample_rate"] in (8000, 16000, 24000, 32000) for r in feats)
    assert all(0.0 <= r["rms"] <= 1.0 for r in feats)
    video = multimodal.synth_assets(spark, n=16, kind="video")
    frames = multimodal.sample_frames(video, every_n=10, fake=True).collect()
    # 1:N fan-out: n_frames in [1, 32], sampled every 10 -> 1-4 per asset
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r["asset_id"], []).append(r["frame_index"])
    assert set(per_asset) == set(range(16))
    for idxs in per_asset.values():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, 10))
        assert len(idxs) <= 4
    # frame payload carries the frame index (deterministic slice)
    assert all(
        bytes(r["frame"])[-4:] == int(r["frame_index"]).to_bytes(4, "big")
        for r in frames
    )


def test_gopher_quality_flags_rules(spark):
    docs = spark.createDataFrame(
        [
            # 24 distinct-ish words incl. stopwords: passes everything
            (0, "the quick brown fox jumps over a lazy dog while many "
                "other animals watch from nearby hills under bright "
                "evening skies tonight peacefully"),
            # heavy repetition: fails top-word dominance and TTR
            (1, " ".join(["spam"] * 30)),
            # too short
            (2, "tiny doc"),
            # no stopwords
            (3, " ".join(f"w{i}" for i in range(25))),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in text.gopher_quality_flags(docs).collect()}
    assert out[0]["keep"] is True
    assert out[1]["rule_top_word"] is False and out[1]["rule_ttr"] is False
    assert out[2]["rule_word_count"] is False
    assert out[3]["rule_stopwords"] is False and out[3]["keep"] is False
    # empty doc: zero words, no crash, all word-dependent rules fail
    assert out[4]["n_words"] == 0 and out[4]["keep"] is False


def test_repetition_flags_line_and_para_rules(spark):
    docs = spark.createDataFrame(
        [
            # 3 lines, one duplicate instance (aa again): dup_line_frac
            # 1/3 > 0.30, dup chars (2-1)*2 / 6 = 1/3 > 0.20 -> reject;
            # single paragraph (no \n\n), para rules pass
            (0, "aa\nbb\naa"),
            # one line, one paragraph: nothing can repeat, keep
            (1, "unique single line"),
            # duplicate PARAGRAPH: paras [p one x, p one x, ptwo]
            (2, "p one x\n\np one x\n\nptwo"),
            # whitespace-only lines are separators, not content:
            # lines [a, a] -> dup 1/2
            (3, "a\n \na"),
            # NULL text: one empty doc, all ratios 0, keep (word-rule
            # rejection is gopher_quality_flags' job)
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in text.repetition_flags(docs).collect()}
    assert out[0]["n_lines"] == 3 and abs(out[0]["dup_line_frac"] - 1 / 3) < 1e-12
    assert abs(out[0]["dup_line_char_frac"] - 2 / 6) < 1e-12
    assert out[0]["n_paras"] == 1 and out[0]["dup_para_frac"] == 0.0
    assert out[0]["keep"] is False
    assert out[1]["keep"] is True and out[1]["dup_line_frac"] == 0.0
    assert out[2]["n_paras"] == 3 and abs(out[2]["dup_para_frac"] - 1 / 3) < 1e-12
    # duplicate chars: (2-1)*7 over 7+7+4 = 7/18
    assert abs(out[2]["dup_para_char_frac"] - 7 / 18) < 1e-12
    assert out[2]["keep"] is False
    assert out[3]["n_lines"] == 2 and out[3]["dup_line_frac"] == 0.5
    assert out[4]["n_lines"] == 0 and out[4]["keep"] is True


def test_char_concentration_flags_exact_metrics(spark):
    """char_concentration_flags: every metric equals the brute-force
    Counter computation (exact integers, no floats), the permille
    thresholds flag the three blob shapes, short/NULL docs keep, and
    Unicode counts character-wise (é is one glyph)."""
    from collections import Counter

    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs on"),
        (1, "z" * 120),          # single-glyph run: Simpson 1 -> drop
        (2, "ab " * 40),         # tiny alphabet cycle: 1/3, 1/3 -> drop
        (3, ""),                 # n=0 < min_chars -> keep
        (4, None),               # NULL counts as empty -> keep
        (5, "short"),            # n=5 < min_chars -> keep
        (6, "aé aé aé aé aé aé aé aé aé aé"),  # unicode blob -> drop
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.asDict()
        for r in text.char_concentration_flags(docs).collect()
    }
    for i, t in rows:
        c = Counter(t or "")
        n = sum(c.values())
        num = sum(v * (v - 1) for v in c.values())
        top = max(c.values(), default=0)
        keep = n < 20 or (
            1000 * num <= 100 * n * (n - 1) and 1000 * top <= 250 * n
        )
        got = out[i]
        assert got["n_chars"] == n, (i, got)
        assert got["n_distinct_chars"] == len(c), (i, got)
        assert got["simpson_num"] == num, (i, got)
        assert got["top_char_count"] == top, (i, got)
        assert got["keep"] is keep, (i, got)
    assert out[0]["keep"] and not out[1]["keep"] and not out[2]["keep"]
    assert not out[6]["keep"]
    # append mode: input columns survive alongside the metrics
    cols = text.char_concentration_flags(docs, append=True).columns
    assert cols[:2] == ["doc_id", "text"] and "simpson_num" in cols


def test_c4_clean_lines_rules(spark):
    docs = spark.createDataFrame(
        [
            # 8 lines: 5 survive (kept >= 5 -> keep); 'short.' fails the
            # 3-word rule, bare line fails terminal punct, javascript
            # line is blocklisted despite valid punctuation
            (0, "good line one here.\nshort.\nno terminal punct line\n"
                "has javascript in it.\nanother good line two.\n"
                "third good line stays!\nfourth good line stays?\n"
                "fifth good line stays."),
            # triplicate line: dedup_lines keeps the first instance only
            (1, "a b c.\na b c.\na b c.\nd e f.\ng h i.\nj k l."),
            # every line valid but the page mentions lorem ipsum -> drop
            (2, "lorem ipsum dolor sit amet.\nx y z one.\nx y z two.\n"
                "x y z three.\nx y z four.\nx y z five."),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in text.c4_clean_lines(docs).collect()}
    assert out[0]["n_lines"] == 8 and out[0]["n_lines_kept"] == 5
    assert out[0]["keep"] is True
    assert out[0]["text"].startswith("good line one here.")
    assert "javascript" not in out[0]["text"] and "short." not in out[0]["text"]
    assert out[2]["n_lines_kept"] == 6 and out[2]["keep"] is False
    assert out[3]["n_lines"] == 0 and out[3]["text"] == "" and out[3]["keep"] is False
    dd = {r.doc_id: r.asDict()
          for r in text.c4_clean_lines(docs, dedup_lines=True).collect()}
    assert dd[1]["n_lines_kept"] == 4  # 6 lines, triplicate collapsed
    assert dd[1]["text"] == "a b c.\nd e f.\ng h i.\nj k l."
    assert dd[1]["keep"] is False  # 4 < 5 kept lines after dedup


def test_split_sentences_terminal_punct_and_cross_line(spark):
    docs = spark.createDataFrame(
        [
            (0, "One sentence here. Two now! Three? Done."),
            # bare line flows into the next line's sentence; trailing
            # fragment without punctuation counts as a final sentence
            (1, "first part\nsecond part ends here. trailing fragment"),
            (2, ""),
            (3, None),
            (4, "multi  space.   kept inside?"),
        ],
        "doc_id long, text string",
    )
    agg = {r.doc_id: (r.sentences, r.n_sentences)
           for r in text.split_sentences(docs).collect()}
    assert agg[0] == (["One sentence here.", "Two now!", "Three?", "Done."], 4)
    assert agg[1] == (
        ["first part\nsecond part ends here.", "trailing fragment"], 2
    )
    assert agg[2] == ([], 0) and agg[3] == ([], 0)
    assert agg[4] == (["multi  space.", "kept inside?"], 2)
    ex = {(r.doc_id, r.sent_index): (r.sentence, r.n_words)
          for r in text.split_sentences(docs, explode=True).collect()}
    assert ex[(0, 3)] == ("Done.", 1)
    assert ex[(1, 0)] == ("first part\nsecond part ends here.", 6)
    assert (2, 0) not in ex and (3, 0) not in ex


def test_duplicated_token_windows_cross_doc_only(spark):
    base = "a b c d e f g h i j"  # 10 tokens -> 7 windows at k=4
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                      # full duplicate of 0
            (2, "x " * 3 + "y"),            # 4 tokens -> 1 window, unique
            (3, "p q r"),                   # shorter than window: no rows
            (4, "m n o p " * 2 + "m n o p"),  # within-doc repeats only
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in text.duplicated_token_windows(docs, window_tokens=4).collect()
    }
    assert out[0] == (7, 7) and out[1] == (7, 7)
    assert out[2] == (1, 0)
    # 3 tokens < window: an explicit n_windows=0 row (explode_outer) —
    # short docs must stay visible to census consumers, not vanish
    assert out[3] == (0, 0)
    # doc 4: 12 tokens -> 9 windows, all repeats are WITHIN one doc, so
    # none count as duplicated (n_docs == 1 for every fingerprint)
    assert out[4] == (9, 0)


def test_ngram_dominance_counts_and_share(spark):
    docs = spark.createDataFrame(
        [
            (0, "buy now buy now buy now today"),   # "buy now" dominates
            (1, "a b c d e"),                        # all bigrams unique
            (2, "solo"),                             # < n tokens: no row
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.top_count, r.top_share)
        for r in text.ngram_dominance(docs, n=2).collect()
    }
    # doc 0: 6 bigrams; "buy now" occurs 3x
    assert out[0] == (6, 3, 0.5)
    assert out[1] == (4, 1, 0.25)
    # short/empty docs keep an n_grams=0 row (same contract as the
    # duplication census)
    assert out[2] == (0, 0, 0.0) and out[3] == (0, 0, 0.0)


def test_pii_scrub_redacts_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail me at jane.doe+x@corp.example.org or 555-0100 now"),
            (1, "no pii here"),
            (2, "two mails a@b.io c@d.net and 555-12345 555-999"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in text.pii_scrub(docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_phones"] == 1
    assert out[0]["text"] == "mail me at <EMAIL> or <PHONE> now"
    assert out[1]["n_emails"] == 0 and out[1]["n_phones"] == 0
    assert out[1]["text"] == "no pii here"
    # 555-999 has only 3 digits — still >= {3,10} lower bound
    assert out[2]["n_emails"] == 2 and out[2]["n_phones"] == 2
    assert "<EMAIL>" in out[2]["text"] and "a@b.io" not in out[2]["text"]


def test_semdedup_planted_clusters_keep_one(spark):
    """Three planted duplicate groups (identical vectors — identical
    KMeans assignment by construction) reduce to one keeper each; the
    orthogonal singleton keeps itself; cluster_id is each group's min
    id."""
    rows = (
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in (0, 1, 2, 3)]
        + [(i, [0.0, 1.0, 0.0, 0.0]) for i in (10, 11)]
        + [(20, [0.0, 0.0, 1.0, 0.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in dedup.semdedup(df, threshold=0.99, n_centroids=3, seed=7).collect()
    }
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False), 3: (0, False),
        10: (10, True), 11: (10, False),
        20: (20, True),
    }


def test_semdedup_pairs_within_cluster_only(spark):
    """Pair generation must be bounded by the cluster partition: with
    n_centroids covering the planted groups, only within-group pairs
    (cosine 1.0) appear — nothing across orthogonal groups."""
    rows = (
        [(i, [1.0, 0.0]) for i in (0, 1)]
        + [(i, [0.0, 1.0]) for i in (10, 11)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.semdedup_pairs(
            df, threshold=0.9, n_centroids=2, seed=7
        ).collect()
    }
    assert pairs == {(0, 1), (10, 11)}


def test_embedding_pairs_duplicate_ids_do_not_reexpand(spark):
    """With the coarse stage 1, candidate pairs dedupe BEFORE the
    vector rejoin — a duplicated input id must not multiply the pair
    back out through the verify joins (vecs dedupe by id)."""
    rows = [(3, [1.0, 0.0]), (7, [1.0, 0.0]), (7, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_dup_pairs(
        df, threshold=0.9, planes=4, dim=2
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in out) == [(3, 7)]

    right = spark.createDataFrame(
        [(10, [1.0, 0.0]), (10, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    pairs = dedup.embedding_similarity_join(
        df, right, threshold=0.9, planes=4, dim=2
    ).collect()
    assert sorted((r.id_l, r.id_r) for r in pairs) == [(3, 10), (7, 10)]


def test_table_profile_sketch_tier_counts_exact_distinct_close(spark):
    """exact_distinct=False swaps count(DISTINCT) for HLL++: n_rows and
    n_nulls stay exact; n_distinct must land within the sketch's
    documented ~2% band (wide margin here for tiny data)."""
    from python_dtl_spark.operators.stats import table_profile

    df = spark.createDataFrame(
        [(i % 500, None if i % 10 == 0 else i) for i in range(2000)],
        "a long, b long",
    )
    rows = {r.column: r for r in table_profile(df, exact_distinct=False).collect()}
    assert rows["a"].n_rows == 2000 and rows["a"].n_nulls == 0
    assert rows["b"].n_nulls == 200
    assert abs(rows["a"].n_distinct - 500) <= 25
    assert abs(rows["b"].n_distinct - 1800) <= 90


def test_release_all_cached_frees_registered_intermediates(spark):
    """Operators register persisted intermediates per session;
    release_all_cached drains the registry (returns the count) and a
    second call is a no-op — the valve a 128-query loop needs because
    deriving from a result drops the per-result handle."""
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared common words") for i in range(30)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_pairs(df)
    out.count()
    assert dedup.release_all_cached(spark) > 0
    assert dedup.release_all_cached(spark) == 0


def test_semdedup_auto_centroids_scale_with_corpus():
    """The derived n_centroids default must grow ~linearly with the
    corpus (constant target cluster size) — the SCALING.md rule that
    keeps the within-cluster n_i² pair stage sub-quadratic at 32×
    without the caller passing a count — and respect the fit-sample
    and absolute caps."""
    one = dedup._auto_centroids(2_000, 128, 100_000)
    eight = dedup._auto_centroids(16_000, 128, 100_000)
    thirty_two = dedup._auto_centroids(64_000, 128, 100_000)
    assert one == 16 and eight == 125 and thirty_two == 500
    # per-cluster size stays constant => pair work stays ~linear
    assert abs(thirty_two / one - 32) < 2
    # caps: never more centroids than the fit sample supports, hard max
    assert dedup._auto_centroids(10**12, 128, 100_000) == 25_000
    assert dedup._auto_centroids(10**12, 1, 10**9) == 65_536
    # floors: tiny corpora still cluster (KMeans needs k >= 2)
    assert dedup._auto_centroids(5, 128, 100_000) == 2
    assert dedup._auto_centroids(0, 128, 100_000) == 2


def test_semdedup_derived_default_matches_explicit(spark):
    """With n_centroids omitted, semdedup derives the count from one
    df.count() and produces the same keep/cluster output as an explicit
    setting on a planted fixture (granularity-independent oracle)."""
    rows = (
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in (0, 1, 2, 3)]
        + [(i, [0.0, 1.0, 0.0, 0.0]) for i in (10, 11)]
        + [(20, [0.0, 0.0, 1.0, 0.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in dedup.semdedup(df, threshold=0.99, seed=7).collect()
    }
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False), 3: (0, False),
        10: (10, True), 11: (10, False),
        20: (20, True),
    }


def test_remove_duplicated_spans_cuts_shared_runs(spark):
    """Planted cross-doc spans must be cut from EVERY occurrence;
    overlapping flagged windows merge into one island; unaffected and
    fully-duplicated docs behave at the extremes."""
    docs = spark.createDataFrame(
        [
            (0, "x1 x2 s1 s2 s3 x3 x4"),      # shares [s1 s2 s3] with 1
            (1, "y1 s1 s2 s3 y2"),
            (2, "unrelated words only here"),  # untouched
            (3, "A p q r s t B"),              # 5-token shared run with 4
            (4, "C p q r s t D"),              #   -> 3 overlapping windows, 1 island
            (5, "m n o"),                      # whole-doc dup of 6
            (6, "m n o"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text, r.n_tokens, r.n_tokens_kept, r.n_spans_removed)
        for r in text.remove_duplicated_spans(docs, window_tokens=3).collect()
    }
    assert out[0] == ("x1 x2 x3 x4", 7, 4, 1)
    assert out[1] == ("y1 y2", 5, 2, 1)
    assert out[2] == ("unrelated words only here", 4, 4, 0)
    assert out[3] == ("A B", 7, 2, 1)   # 3 overlapping windows -> 1 span
    assert out[4] == ("C D", 7, 2, 1)
    assert out[5] == ("", 3, 0, 1)      # fully duplicated -> empty
    assert out[6] == ("", 3, 0, 1)


def test_remove_duplicated_spans_composes_with_census(spark, docs):
    """After removal, a re-census over the cut corpus finds zero
    duplicated windows — the operator is idempotent at the window
    size it cut."""
    cut = text.remove_duplicated_spans(docs, window_tokens=3)
    recensus = text.duplicated_token_windows(cut, window_tokens=3)
    assert recensus.filter(F.col("n_dup_windows") > 0).count() == 0


def test_remove_duplicated_spans_against_eval_corpus(spark):
    """Cross-corpus mode (staged r15 → r16, `against=`): cut from
    TRAIN every window whose fingerprint appears anywhere in the EVAL
    corpus — span-level decontamination.  Within-train duplication is
    NOT cut (docs 2+3 share a run absent from eval), and the default
    `against=None` path is byte-identical to the pre-param behavior
    (pure-factoring identity check)."""
    train = spark.createDataFrame(
        [
            (0, "x1 x2 e1 e2 e3 x3"),          # leaks eval run [e1 e2 e3]
            (1, "clean words only here now"),
            (2, "A p q r B"),                  # train-internal dup with 3
            (3, "C p q r D"),                  #   -> untouched in eval mode
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "benchmark preamble e1 e2 e3 benchmark tail")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text, r.n_spans_removed)
        for r in text.remove_duplicated_spans(
            train, window_tokens=3, against=evals
        ).collect()
    }
    assert out[0] == ("x1 x2 x3", 1)
    assert out[1] == ("clean words only here now", 0)
    assert out[2] == ("A p q r B", 0)  # internal dup stays in eval mode
    assert out[3] == ("C p q r D", 0)
    # pure-factoring identity: against=None equals the original path
    legacy = {
        r.doc_id: tuple(r)
        for r in text.remove_duplicated_spans(
            train, window_tokens=3
        ).collect()
    }
    assert legacy[2][1] == "A B" and legacy[3][1] == "C D"


def test_remove_duplicated_spans_against_matches_duckdb_replay(spark):
    """Pre-validated cross-corpus replay (the staging pattern): DuckDB
    re-derives the eval fingerprint set, the flagged train windows and
    the island merge, matching all three exact-integer counters per
    doc (the r16 registration additionally replays the cut TEXT via
    the doc_dedup_spans oracle's complement-splice SQL with this
    flagged CTE swapped in).  Eval corpus = an id-shifted slice of
    documents, so real leaked spans exist."""
    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 10 != 0)
    out = text.remove_duplicated_spans(
        train, window_tokens=8, against=evals
    )
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_tokens_kept, r.n_spans_removed)
        for r in out.collect()
    )
    assert any(r[3] > 0 for r in got), "fixture planted no leaks"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    from python_dtl_spark.catalog import _TOKS_SQL

    want = sorted(
        tuple(r)
        for r in con.execute(f"""
    WITH train AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE doc_id % 10 <> 0
    ), ev AS (
        SELECT {_TOKS_SQL} AS t FROM documents WHERE doc_id % 10 = 0
    ), efp AS (
        SELECT DISTINCT ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')),
                         1, 15))::BIGINT AS h
        FROM (SELECT t, unnest(range(1, len(t) - 6)) AS i FROM ev
              WHERE len(t) >= 8)
    ), w AS (
        SELECT doc_id, i - 1 AS i,
               ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')),
                1, 15))::BIGINT AS h
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
              FROM train WHERE len(t) >= 8)
    ), flagged AS (
        SELECT doc_id, i, i + 7 AS e FROM w WHERE h IN (SELECT h FROM efp)
    ), isl AS (
        SELECT doc_id, i, e,
               sum(CASE WHEN i > coalesce(pme, -2) + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS UNBOUNDED PRECEDING) AS g
        FROM (SELECT doc_id, i, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pme
              FROM flagged)
    ), spans AS (
        SELECT doc_id, min(i) AS lo, max(e) AS hi
        FROM isl GROUP BY doc_id, g
    ), cut AS (
        SELECT tr.doc_id,
               CAST(len(tr.t) AS BIGINT) AS n_tokens,
               CAST(coalesce(sum(CASE WHEN s.doc_id IS NULL THEN 0
                    ELSE least(s.hi, len(tr.t) - 1) - s.lo + 1 END), 0)
                    AS BIGINT) AS n_cut,
               CAST(count(s.lo) AS BIGINT) AS n_spans
        FROM train tr LEFT JOIN spans s USING (doc_id)
        GROUP BY tr.doc_id, tr.t
    )
    SELECT doc_id, n_tokens, n_tokens - n_cut AS n_tokens_kept, n_spans
    FROM cut
    """).fetchall()
    )
    assert got == want


def test_pii_scrub_mixed_case(spark):
    """The patterns are (?i): uppercase/mixed-case emails must count
    and redact identically to lowercase (round-6 ADVICE — a scrub
    that leaves 'John.Doe@Example.COM' intact is a PII leak)."""
    docs = spark.createDataFrame(
        [
            (0, "reach John.Doe@Example.COM today"),
            (1, "CAPS USER@HOST.ORG and lower a@b.io"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.asDict() for r in text.pii_scrub(docs).collect()}
    assert out[0]["n_emails"] == 1
    assert out[0]["text"] == "reach <EMAIL> today"
    assert out[1]["n_emails"] == 2
    assert out[1]["text"] == "CAPS <EMAIL> and lower <EMAIL>"


def test_kmv_distinct_accuracy_and_exact_small(spark):
    from python_dtl_spark.operators import stats

    # group "big": 5000 distinct keys — estimate within ~3 std errors
    # (1/sqrt(k) ≈ 6.25% at k=256); group "small": 100 distinct keys
    # (< k) — exact by the sketch-saw-everything rule
    df = spark.range(5000).selectExpr("'big' AS g", "id AS key").union(
        spark.range(100).selectExpr("'small' AS g", "id AS key")
    )
    out = {
        r.g: r.approx_distinct
        for r in stats.kmv_distinct(df, "key", ["g"], k=256).collect()
    }
    assert out["small"] == 100
    assert abs(out["big"] - 5000) / 5000 < 0.2
    # duplicate keys must not change the estimate (hash-distinct dedup)
    doubled = df.union(df)
    out2 = {
        r.g: r.approx_distinct
        for r in stats.kmv_distinct(doubled, "key", ["g"], k=256).collect()
    }
    assert out2 == out


def test_kmv_distinct_ignores_null_keys(spark):
    """NULL keys are not values (count(DISTINCT x) semantics): a NULL
    must neither occupy a k-slot nor count toward the estimate
    (round-6 ADVICE — Spark sorts NULL hashes first, DuckDB last, so
    an unfiltered NULL also diverges across engines)."""
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [("g", x) for x in [1, 2, 3, None, None]], "g string, key long"
    )
    [row] = stats.kmv_distinct(df, "key", ["g"], k=16).collect()
    assert row.approx_distinct == 3
    # all-NULL group: zero distinct values -> no output row at all
    # (same as COUNT(DISTINCT) over an empty set grouped away)
    nulls = spark.createDataFrame(
        [("n", None)], "g string, key long"
    )
    assert stats.kmv_distinct(nulls, "key", ["g"], k=16).count() == 0


def test_quantized_topk_matches_exact_on_fixture(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(embeddings, queries, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.quantized_topk(
            embeddings, queries, k=3, rescore_factor=2
        ).collect()
    }
    assert got == exact  # int8 candidates + exact rescore recover the truth


def test_quantized_topk_broadcast_guard(spark, embeddings):
    queries = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        similarity.quantized_topk(
            embeddings, queries, num_queries=1_000_000
        )


def test_resample_ffill_gapfill_and_tiebreak(spark):
    from datetime import datetime

    from python_dtl_spark.operators.windows import resample_ffill

    rows = [
        # user 1: days 0 and 3 observed -> days 1,2 gap-filled with 10.0
        (1, datetime(2024, 1, 1, 5), 100, 10.0),
        (1, datetime(2024, 1, 4, 5), 101, 40.0),
        # same-bucket tie: later ts wins; equal ts -> higher event_id
        (2, datetime(2024, 1, 1, 1), 200, 1.0),
        (2, datetime(2024, 1, 1, 9), 201, 2.0),
        (2, datetime(2024, 1, 1, 9), 202, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {
        (r.user_id, r.bucket_start.day): (r.value, r.observed)
        for r in resample_ffill(
            df, ["user_id"], "ts", "value", "event_id", 86400
        ).collect()
    }
    assert out[(1, 1)] == (10.0, True)
    assert out[(1, 2)] == (10.0, False)   # gap-filled
    assert out[(1, 3)] == (10.0, False)   # gap-filled
    assert out[(1, 4)] == (40.0, True)
    assert out[(2, 1)] == (3.0, True)     # latest ts, event_id tiebreak
    assert len(out) == 5


def test_resample_ffill_overspan_guard_keeps_observed(spark):
    """A group whose bucket span reaches max_buckets (the stray-1970-
    timestamp case) must NOT be gap-filled but must still emit every
    observed row — the guard degrades the grid, never the data
    (round-6 ADVICE: the old behavior dropped the whole group)."""
    from datetime import datetime

    from python_dtl_spark.operators.windows import resample_ffill

    rows = [
        # user 1: stray 1970 epoch + 2024 observation -> span ~19k days
        (1, datetime(1970, 1, 1, 1), 100, 7.0),
        (1, datetime(2024, 1, 1, 1), 101, 8.0),
        # user 2: normal 3-day span, gapfilled
        (2, datetime(2024, 1, 1, 1), 200, 1.0),
        (2, datetime(2024, 1, 3, 1), 201, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = resample_ffill(
        df, ["user_id"], "ts", "value", "event_id", 86400, max_buckets=100
    ).collect()
    u1 = sorted(
        [(r.bucket_start.year, r.value, r.observed) for r in out if r.user_id == 1]
    )
    u2 = [(r.value, r.observed) for r in sorted(
        (r for r in out if r.user_id == 2), key=lambda r: r.bucket_start
    )]
    # guarded group: both observed rows survive, zero gap-filled rows
    assert u1 == [(1970, 7.0, True), (2024, 8.0, True)]
    # unguarded group untouched: observed, filled, observed
    assert u2 == [(1.0, True), (1.0, False), (3.0, True)]


def test_random_projection_preserves_distances(spark):
    import math
    import random

    from python_dtl_spark.operators.embeddings import random_projection

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.vec_id: r.embedding_rp
        for r in random_projection(df, dim=64, out_dim=16, seed=7).collect()
    }
    assert all(len(v) == 16 for v in out.values())

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    orig = {i: dict(rows)[i] for i in range(20)}
    # JL with 16 dims is crude; just require every pairwise distance
    # ratio to stay within a loose [0.4, 1.9] band — catches sign or
    # scale bugs without flaking on the fixed seed
    for i in range(0, 6):
        for j in range(i + 1, 6):
            ratio = d(out[i], out[j]) / d(orig[i], orig[j])
            assert 0.4 < ratio < 1.9, (i, j, ratio)
    # deterministic: same seed, same projection
    again = {
        r.vec_id: r.embedding_rp
        for r in random_projection(df, dim=64, out_dim=16, seed=7).collect()
    }
    assert again == out


def test_random_projection_dim_mismatch_raises(spark):
    """A caller-supplied dim that disagrees with the data must raise at
    execution (round-6 ADVICE: zip_with would otherwise NULL-pad and
    silently emit NULL projection components)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from python_dtl_spark.operators.embeddings import random_projection

    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="dim mismatch"):
        random_projection(df, dim=64, out_dim=16, seed=7).collect()


def test_projected_topk_matches_exact_on_fixture(spark):
    import random

    from python_dtl_spark.operators import similarity

    # clustered corpus: projections preserve the cluster gaps, so
    # coarse candidates contain the true neighbors and the exact
    # rescore recovers the exact top-k
    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    rows = [
        (i, [c + rng.gauss(0, 0.05) for c in centers[i % 4]])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(df, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.projected_topk(
            df, queries, k=5, rescore_factor=4
        ).collect()
    }
    assert got == exact


# --- CDC: changeset application + SCD2 history ------------------------------


def test_apply_changes_upsert_delete_insert(spark):
    from python_dtl_spark.operators import cdc

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    changes = spark.createDataFrame(
        [
            # k=1: two upserts, seq 2 wins
            (1, 1, "upsert", "a1", 11.0),
            (1, 2, "upsert", "a2", 12.0),
            # k=2: upsert then delete (delete latest)
            (2, 1, "upsert", "b1", 21.0),
            (2, 2, "delete", None, None),
            # k=9: insert (absent from snapshot)
            (9, 1, "upsert", "z", 90.0),
        ],
        "k long, seq long, op string, s string, v double",
    )
    out = {
        r.k: (r.s, r.v)
        for r in cdc.apply_changes(
            snap, changes, keys=["k"], seq_col="seq", op_col="op"
        ).collect()
    }
    assert out == {1: ("a2", 12.0), 3: ("c", 30.0), 9: ("z", 90.0)}


def test_apply_changes_tie_prefers_delete_and_no_op_col(spark):
    from python_dtl_spark.operators import cdc

    snap = spark.createDataFrame([(1, 10.0)], "k long, v double")
    # same seq: delete must win deterministically
    changes = spark.createDataFrame(
        [(1, 5, "upsert", 99.0), (1, 5, "delete", None)],
        "k long, seq long, op string, v double",
    )
    assert (
        cdc.apply_changes(snap, changes, ["k"], "seq", op_col="op").count() == 0
    )
    # no op column = all upserts
    ch2 = spark.createDataFrame([(1, 1, 42.0)], "k long, seq long, v double")
    out = cdc.apply_changes(snap, ch2, ["k"], "seq").collect()
    assert out[0].v == 42.0


def test_scd2_history_intervals(spark):
    from python_dtl_spark.operators import cdc

    changes = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "y"), (1, 30, "z"), (2, 5, "q")],
        "k long, seq long, attr string",
    )
    rows = {
        (r.k, r.valid_from): (r.attr, r.valid_to, r.is_current)
        for r in cdc.scd2_history(changes, ["k"], "seq").collect()
    }
    assert rows == {
        (1, 10): ("x", 20, False),
        (1, 20): ("y", 30, False),
        (1, 30): ("z", None, True),
        (2, 5): ("q", None, True),
    }


# --- key profile / z-score outliers ----------------------------------------


def test_key_profile_shares_and_ranks(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    rows = stats.key_profile(df, ["k"], top_n=2).collect()
    assert [(r.rank, r.k, r.cnt) for r in rows] == [(1, "a", 6), (2, "b", 3)]
    assert rows[0].share == 0.6 and rows[0].cum_share == 0.6
    assert rows[1].share == 0.3 and rows[1].cum_share == 0.9


def test_zscore_outliers_flags_extremes(spark):
    from python_dtl_spark.operators import stats

    data = [("g", float(v)) for v in [10, 10, 10, 10, 10, 10, 10, 10, 10, 100]]
    data += [("h", 5.0)]  # single-row group: stddev 0, never an outlier
    df = spark.createDataFrame(data, "g string, v double")
    out = stats.zscore_outliers(df, "v", ["g"], z=2.0).collect()
    assert [(r.g, r.v) for r in out] == [("g", 100.0)]
    assert out[0].zscore > 2.0


# --- decontamination prefilter ---------------------------------------------


def test_contamination_prefilter_is_lossless(spark):
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "unrelated words entirely different from anything else"),
    ]
    evals = [(100, "alpha beta gamma delta epsilon zeta eta theta iota")]
    train = spark.createDataFrame(texts, "doc_id long, text string")
    ev = spark.createDataFrame(evals, "doc_id long, text string")
    base = {
        (r.train_id, r.eval_id, r.common)
        for r in dedup.contamination_pairs(train, ev, min_common=3).collect()
    }
    pref = {
        (r.train_id, r.eval_id, r.common)
        for r in dedup.contamination_pairs(
            train, ev, min_common=3, prefilter_buckets=1 << 20
        ).collect()
    }
    assert base == pref and base  # identical and non-empty
    # tiny bucket space = every bucket collides: still lossless
    tiny = {
        (r.train_id, r.eval_id, r.common)
        for r in dedup.contamination_pairs(
            train, ev, min_common=3, prefilter_buckets=4
        ).collect()
    }
    assert tiny == base


def test_crawl_delta_stored_index_and_valves_are_lossless(spark, tmp_path):
    """crawl_delta_pairs' three modes must agree pair-for-pair: inline
    (index derived from corpus text), stored-index (the
    minhash_band_buckets parquet written at index-build time — the
    incremental contract), and prefilter-off.  The Bloom prefilter is
    exact-safe by construction (false positives die in the equi-join),
    and the stored index replays the same hash algebra — both are
    plan-level optimizations, never semantic ones."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    crawl = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )

    def run(**kw):
        return {
            (r.crawl_id, r.corpus_id, round(r.jaccard, 12))
            for r in dedup.crawl_delta_pairs(
                docs, crawl, threshold=0.3, **kw
            ).collect()
        }

    inline = run()
    assert inline  # non-empty: every crawl doc pairs with its source
    no_pref = run(prefilter_buckets=None)
    assert no_pref == inline
    tiny_pref = run(prefilter_buckets=8)  # every bucket collides
    assert tiny_pref == inline
    idx_path = str(tmp_path / "idx.parquet")
    dedup.minhash_band_buckets(docs).write.parquet(idx_path)
    stored = run(corpus_buckets=spark.read.parquet(idx_path))
    assert stored == inline
    # exact self-copies are all present at jaccard 1.0
    ids = {r.doc_id for r in docs.filter("trim(text) <> ''").collect()}
    for i in ids:
        if i % 5 == 0:
            assert (i + 300000, i, 1.0) in inline


def test_merge_crawl_into_index_equals_rebuild(spark, tmp_path):
    """merge_crawl_into_index: appending an accepted crawl's buckets to
    a STORED index must equal a from-scratch rebuild over
    corpus ∪ crawl, row for row — bucket construction is per-document,
    so the merge is lossless by construction and this test enforces it
    (the last leg of the incremental-crawl loop: probe → drop dups →
    merge survivors → tomorrow's probe sees one equivalent index)."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    crawl = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    )
    idx_path = str(tmp_path / "idx.parquet")
    dedup.minhash_band_buckets(docs).write.parquet(idx_path)
    merged = dedup.merge_crawl_into_index(
        spark.read.parquet(idx_path), crawl
    )
    rebuilt = dedup.minhash_band_buckets(docs.unionByName(crawl))
    m = {(r.doc_id, r.band, r.bucket) for r in merged.collect()}
    b = {(r.doc_id, r.band, r.bucket) for r in rebuilt.collect()}
    assert m == b and m  # identical and non-empty
    # schema contract: a non-index frame is rejected loudly
    with pytest.raises(ValueError, match="minhash_band_buckets"):
        dedup.merge_crawl_into_index(docs, crawl)


def test_merge_crawl_into_index_rejects_out_of_range_bands(spark):
    """crawl_buckets banded under another ``bands`` fail the merge in the
    plan (raise_error), with no job at construction."""
    index = spark.createDataFrame(
        [(1, 0, 11), (1, 1, 12)], "doc_id long, band int, bucket long"
    )
    crawl = spark.createDataFrame([(2, "x")], "doc_id long, text string")
    sc = spark.sparkContext
    for band in (4, -1, None):
        buckets = spark.createDataFrame(
            [(2, 0, 21), (2, band, 22)], "doc_id long, band int, bucket long"
        )
        sc.setJobGroup("band-guard", "no jobs expected")
        try:
            merged = dedup.merge_crawl_into_index(
                index, crawl, bands=4, crawl_buckets=buckets
            )
            jobs = sc.statusTracker().getJobIdsForGroup("band-guard")
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == []
        with pytest.raises(Exception, match=r"crawl_buckets band outside \[0, 4\)"):
            merged.collect()
    ok = spark.createDataFrame(
        [(2, 0, 21), (2, 3, 22)], "doc_id long, band int, bucket long"
    )
    merged = dedup.merge_crawl_into_index(index, crawl, bands=4, crawl_buckets=ok)
    assert sorted(tuple(r) for r in merged.collect()) == [
        (1, 0, 11), (1, 1, 12), (2, 0, 21), (2, 3, 22)
    ]


def test_crawl_delta_returned_buckets_equal_band_index(spark, tmp_path):
    """r21 merge reuse: the crawl banding crawl_delta_pairs already
    materialises for its probe must equal minhash_band_buckets(crawl)
    row for row (same shingles, same seeded hash algebra), and feeding
    it back into merge_crawl_into_index via ``crawl_buckets`` must
    yield the identical merged index with NO re-shingling — the 'one
    fewer crawl-sized pass per day' contract of the daily loop."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    crawl = docs.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(F.lit("probe "), F.col("text")).alias("text"),
    )
    pairs, buckets = dedup.crawl_delta_pairs(
        docs, crawl, threshold=0.3, return_crawl_buckets=True
    )
    assert list(buckets.columns) == ["doc_id", "band", "bucket"]
    got = {(r.doc_id, r.band, r.bucket) for r in buckets.collect()}
    want = {
        (r.doc_id, r.band, r.bucket)
        for r in dedup.minhash_band_buckets(crawl).collect()
    }
    assert got == want and got
    # merge fed with the probe's buckets == merge recomputing them
    idx_path = str(tmp_path / "idx.parquet")
    dedup.minhash_band_buckets(docs).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    via_reuse = {
        (r.doc_id, r.band, r.bucket)
        for r in dedup.merge_crawl_into_index(
            stored, crawl, crawl_buckets=buckets
        ).collect()
    }
    via_recompute = {
        (r.doc_id, r.band, r.bucket)
        for r in dedup.merge_crawl_into_index(stored, crawl).collect()
    }
    assert via_reuse == via_recompute
    # a malformed reuse frame is rejected loudly
    with pytest.raises(ValueError, match="crawl_buckets"):
        dedup.merge_crawl_into_index(stored, crawl, crawl_buckets=docs)
    # default return shape unchanged (a bare DataFrame)
    from pyspark.sql import DataFrame

    assert isinstance(
        dedup.crawl_delta_pairs(docs, crawl, threshold=0.3), DataFrame
    )
    dedup.release_all_cached(spark)


def test_embedding_delta_matches_selfjoin_restriction(spark):
    """embedding_delta_pairs == the cross-side restriction of
    embedding_near_dup_pairs over corpus ∪ delta: the delta probes
    own + Hamming-1 buckets against own-signature anchors — exactly
    the self-join operator's candidate rule — and the exact-cosine
    verify is the shared fold, so the pair sets must be identical.
    Runs on real embeddings with planted exact copies (identical
    vectors ⇒ identical signatures ⇒ structural recall 1)."""
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    delta = base.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    got = {
        (r.delta_id, r.corpus_id, round(r.cosine, 9))
        for r in dedup.embedding_delta_pairs(
            base, delta, threshold=0.9, dim=64
        ).collect()
    }
    both = base.unionByName(delta)
    self_pairs = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b), round(r.cosine, 9))
        for r in dedup.embedding_near_dup_pairs(
            both, threshold=0.9, dim=64
        ).collect()
    }
    cross = {
        (a, b, c) for a, b, c in self_pairs if a >= 100000 and b < 100000
    }
    assert got == cross and got  # identical and non-empty
    # every planted copy found at cosine exactly 1.0
    ids = {r.vec_id for r in base.collect()}
    for i in ids:
        if i % 3 == 0:
            assert (i + 100000, i, 1.0) in got


def test_merge_embedding_index_equals_rebuild(spark, tmp_path):
    """merge_delta_into_embedding_index: appending the delta's buckets
    to a STORED index equals a from-scratch rebuild over
    corpus ∪ delta, row for row (the signature is a pure function of
    (vector, planes, seed))."""
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 150)
    )
    delta = base.filter(F.col("vec_id") % 4 == 1).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    idx_path = str(tmp_path / "eidx.parquet")
    dedup.embedding_lsh_buckets(base, dim=64).write.parquet(idx_path)
    merged = dedup.merge_delta_into_embedding_index(
        spark.read.parquet(idx_path), delta, dim=64
    )
    rebuilt = dedup.embedding_lsh_buckets(base.unionByName(delta), dim=64)
    m = {(r.vec_id, r.bucket) for r in merged.collect()}
    b = {(r.vec_id, r.bucket) for r in rebuilt.collect()}
    assert m == b and m
    with pytest.raises(ValueError, match="embedding_lsh_buckets"):
        dedup.merge_delta_into_embedding_index(base, delta, dim=64)


def test_crawl_delta_duplicate_crawl_ids_one_row_per_pair(spark):
    """A duplicated crawl doc_id must not chimera-blend signatures or
    fan pairs out through the shingle join-back: the crawl projection
    dedupes by id (minhash_lsh_pairs' contract), so each (crawl_id,
    corpus_id) pair appears exactly once."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        # identical text on both duplicate rows: whichever row the
        # dedupe keeps, the output is the same — the assertion is
        # about multiplicity, not about which arbitrary row wins
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.crawl_delta_pairs(corpus, crawl, threshold=0.5).collect()
    assert len(rows) == 1
    assert (rows[0].crawl_id, rows[0].corpus_id, rows[0].jaccard) == (10, 1, 1.0)


def test_domain_quota_caps_and_is_layout_invariant(spark):
    from python_dtl_spark.operators.sampling import domain_quota

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out = domain_quota(df, "dom", "k", quota=50).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.dom, set()).add(r.k)
    assert len(by_dom["big"]) == 50  # capped
    assert len(by_dom["small"]) == 50  # 100 rows capped to 50
    # survivors are a pure function of (key, seed): physical layout irrelevant
    out2 = domain_quota(df.repartition(17), "dom", "k", quota=50).collect()
    assert {(r.dom, r.k) for r in out2} == {(r.dom, r.k) for r in out}
    # different seed picks a different subset of the big domain
    out3 = domain_quota(df, "dom", "k", quota=50, seed="other").collect()
    assert {r.k for r in out3 if r.dom == "big"} != by_dom["big"]
    with pytest.raises(ValueError):
        domain_quota(df, "dom", "k", quota=0)


def test_temperature_resample_flattens_mix(spark):
    from fractions import Fraction

    from python_dtl_spark.operators.sampling import temperature_resample

    rows = [(i, "big" if i < 3000 else ("mid" if i < 3500 else "small"))
            for i in range(3600)]  # 3000 / 500 / 100
    df = spark.createDataFrame(rows, "k long, dom string")
    # alpha=1: identity (same plan object, all rows)
    assert temperature_resample(df, "dom", "k", alpha=1).count() == 3600
    # alpha=0: every domain downsamples to ~n_min
    eq = temperature_resample(df, "dom", "k", alpha=0).groupBy("dom").count()
    counts0 = {r.dom: r["count"] for r in eq.collect()}
    assert counts0["small"] == 100  # smallest keeps everything
    assert 60 < counts0["big"] < 140 and 60 < counts0["mid"] < 140
    # alpha=1/2: between identity and flat, ordered big > mid > small
    half = temperature_resample(df, "dom", "k", alpha=Fraction(1, 2))
    counts = {r.dom: r["count"] for r in half.groupBy("dom").count().collect()}
    assert counts["small"] == 100
    # expected keep fraction sqrt(100/3000) ~ 0.183 -> ~548 of big
    assert 400 < counts["big"] < 700
    assert counts["big"] > counts["mid"] > counts["small"]
    # layout invariance
    again = temperature_resample(
        df.repartition(13), "dom", "k", alpha=Fraction(1, 2)
    )
    assert {r.k for r in again.collect()} == {
        r.k for r in half.collect()
    }
    # irrational / fine-grained alpha is rejected, not approximated
    with pytest.raises(ValueError):
        temperature_resample(df, "dom", "k", alpha=0.55)
    with pytest.raises(ValueError):
        temperature_resample(df, "dom", "k", alpha=1.5)


def test_vocabulary_ids_counts_and_coverage(spark):
    df = spark.createDataFrame(
        [
            (0, "a a a b b c"),
            (1, "a b d"),
            (2, "a e"),
        ],
        ["doc_id", "text"],
    )
    out = {r.token: r for r in text.vocabulary(df, min_count=2, max_size=10).collect()}
    # e and d appear once -> dropped by min_count; c appears once -> dropped
    assert set(out) == {"a", "b"}
    assert out["a"].freq == 5 and out["a"].doc_freq == 3 and out["a"].token_id == 0
    assert out["b"].freq == 3 and out["b"].doc_freq == 2 and out["b"].token_id == 1
    # coverage is over ALL 11 corpus tokens, including out-of-vocab ones
    assert abs(out["a"].cum_share - 5 / 11) < 1e-12
    assert abs(out["b"].cum_share - 8 / 11) < 1e-12
    # max_size truncates by rank: only the most frequent survives
    top1 = text.vocabulary(df, min_count=1, max_size=1).collect()
    assert len(top1) == 1 and top1[0].token == "a"


def test_vocabulary_tokens_col_uses_pretokenized_stream(spark):
    """tokens_col builds the vocab over a pre-tokenized array as-is —
    no re-split (merged BPE tokens containing spaces stay single
    units), no lowercasing."""
    df = spark.createDataFrame(
        [
            (0, ["t h", "x", "t h"]),
            (1, ["t h", "X"]),
        ],
        "doc_id long, toks array<string>",
    )
    out = {
        r.token: r
        for r in text.vocabulary(
            df, tokens_col="toks", min_count=1, max_size=10
        ).collect()
    }
    assert out["t h"].freq == 3 and out["t h"].doc_freq == 2
    assert out["t h"].token_id == 0
    # case preserved: 'x' and 'X' are distinct tokens
    assert out["x"].freq == 1 and out["X"].freq == 1
    assert abs(out["t h"].cum_share - 3 / 5) < 1e-12


def test_merge_candidates_adjacent_pair_scoring(spark):
    df = spark.createDataFrame(
        [
            (0, "a b a b c"),  # pairs: (a,b) (b,a) (a,b) (b,c)
            (1, "A b"),  # lowercased: (a,b)
            (2, "solo"),  # single token -> no pairs
            (3, ""),  # empty -> no pairs
        ],
        ["doc_id", "text"],
    )
    out = text.merge_candidates(df, min_count=1, top_n=10).collect()
    ranked = {(r.token_left, r.token_right): r for r in out}
    assert ranked[("a", "b")].freq == 3 and ranked[("a", "b")].doc_freq == 2
    assert ranked[("b", "a")].freq == 1 and ranked[("b", "c")].freq == 1
    # rank 0 = most frequent; ties break by (left, right) ascending
    assert ranked[("a", "b")].merge_rank == 0
    assert ranked[("b", "a")].merge_rank == 1
    assert ranked[("b", "c")].merge_rank == 2
    # min_count prunes singletons; top_n truncates by rank
    assert [(r.token_left, r.token_right) for r in
            text.merge_candidates(df, min_count=2, top_n=10).collect()] == [("a", "b")]
    assert len(text.merge_candidates(df, min_count=1, top_n=1).collect()) == 1


def test_apply_merge_greedy_nonoverlap(spark):
    df = spark.createDataFrame(
        [
            (0, "a a a"),  # greedy: merge 0-1 only; position 1 consumed
            (1, "a a a a"),  # two non-overlapping merges
            (2, "x a a y a a"),  # merges in separate runs
            (3, "a b a"),  # no adjacency
            (4, ""),
            (5, "A a"),  # lowercased before matching
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.apply_merge(df, "a", "a").collect()}
    assert out[0].tokens_merged == ["a a", "a"] and out[0].n_merges == 1
    assert out[1].tokens_merged == ["a a", "a a"] and out[1].n_merges == 2
    assert out[2].tokens_merged == ["x", "a a", "y", "a a"]
    assert out[3].tokens_merged == ["a", "b", "a"] and out[3].n_merges == 0
    assert out[4].tokens_merged == [] and out[4].n_merges == 0
    assert out[5].tokens_merged == ["a a"] and out[5].n_merges == 1
    # distinct-token pair
    out2 = text.apply_merge(df, "a", "b").collect()
    assert {r.doc_id: r.tokens_merged for r in out2}[3] == ["a b", "a"]
    with pytest.raises(ValueError, match="non-empty"):
        text.apply_merge(df, "", "b")
    clash = spark.createDataFrame([("t", [])], "text string, tokens_merged array<string>")
    with pytest.raises(ValueError, match="tokens_merged"):
        text.apply_merge(clash, "a", "b")


def test_bpe_fit_learns_and_applies_merge_table(spark):
    df = spark.createDataFrame(
        [
            (0, "t h e t h e t h e"),
            (1, "t h i s t h e"),
        ],
        ["doc_id", "text"],
    )
    out, merges = text.bpe_fit(df, n_merges=2, min_count=2)
    # round 1: (t,h) x5 is the clear winner; round 2: ('t h', e) x4
    assert [(m[0], m[1]) for m in merges] == [("t", "h"), ("t h", "e")]
    assert merges[0][2] == 5 and merges[1][2] == 4
    toks = {r.doc_id: r.tokens_merged for r in out.collect()}
    assert toks[0] == ["t h e", "t h e", "t h e"]
    assert toks[1] == ["t h", "i", "s", "t h e"]
    # the returned frame registers its round cache for session cleanup
    assert hasattr(out, "release_cached")
    out.release_cached()
    # early stop: nothing reaches min_count on a tiny corpus
    out2, merges2 = text.bpe_fit(df, n_merges=50, min_count=2)
    assert len(merges2) < 50  # exhausted pairs stop the loop early
    out2.release_cached()
    with pytest.raises(ValueError, match="n_merges"):
        text.bpe_fit(df, 0)
    # loud collision with a pre-tokenized input
    clash = df.withColumn("tokens_merged", F.split("text", " "))
    with pytest.raises(ValueError, match="tokens_merged"):
        text.bpe_fit(clash, 1)


def test_apply_merge_n_merges_collision_raises(spark):
    """apply_merge emits n_merges too — an input already carrying that
    column must raise (the loud-collision contract), never be silently
    overwritten."""
    clash = spark.createDataFrame(
        [("a a", 7)], "text string, n_merges int"
    )
    with pytest.raises(ValueError, match="n_merges"):
        text.apply_merge(clash, "a", "a")


def test_bpe_encode_applies_table_in_rank_order(spark):
    df = spark.createDataFrame(
        [
            (0, "t h e t h e"),  # both merges fire, cascaded
            (1, "t h i s"),  # only merge 1 fires
            (2, "a a a"),  # same-token greedy inside the fold
            (3, ""),  # empty doc
            (4, "T H E"),  # lowercased before matching
        ],
        ["doc_id", "text"],
    )
    merges = [("t", "h"), ("t h", "e"), ("a", "a")]
    out = {
        r.doc_id: r.tokens_bpe
        for r in text.bpe_encode(df, merges).collect()
    }
    assert out[0] == ["t h e", "t h e"]
    assert out[1] == ["t h", "i", "s"]
    assert out[2] == ["a a", "a"]
    assert out[3] == []
    assert out[4] == ["t h e"]
    # bpe_fit's 3-tuples (left, right, freq) are accepted as-is
    out3 = {
        r.doc_id: r.tokens_bpe
        for r in text.bpe_encode(df, [("t", "h", 99)]).collect()
    }
    assert out3[0] == ["t h", "e", "t h", "e"]
    # empty merge table = plain tokenization
    out0 = {
        r.doc_id: r.tokens_bpe for r in text.bpe_encode(df, []).collect()
    }
    assert out0[0] == ["t", "h", "e", "t", "h", "e"]
    # pre-tokenized input: no re-split, no re-lowercasing
    pre = spark.createDataFrame(
        [(0, ["A", "t", "h"])], "doc_id long, toks array<string>"
    )
    outp = text.bpe_encode(
        pre, [("t", "h")], tokens_col="toks"
    ).collect()
    assert outp[0].tokens_bpe == ["A", "t h"]
    with pytest.raises(ValueError, match="non-empty"):
        text.bpe_encode(df, [("", "x")])
    with pytest.raises(ValueError, match="tokens_bpe"):
        text.bpe_encode(df.withColumn("tokens_bpe", F.lit("x")), merges)


def test_bpe_encode_matches_chained_apply_merge(spark):
    """The single-fold encoder must equal n chained apply_merge calls
    on the same table — the plan collapses, the semantics must not."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["a b a b a b", "b a b a", "a a b b a b", "x y z", ""]
        )],
        ["doc_id", "text"],
    )
    merges = [("a", "b"), ("a b", "a b"), ("b", "a")]
    chained = df.withColumn(
        "cur", text.tokens(F.lower(F.col("text")))
    )
    for left, right in merges:
        chained = (
            text.apply_merge(
                chained, left, right, out_col="nxt", tokens_col="cur"
            )
            .drop("cur", "n_merges")
            .withColumnRenamed("nxt", "cur")
        )
    expect = {r.doc_id: r.cur for r in chained.collect()}
    got = {
        r.doc_id: r.tokens_bpe
        for r in text.bpe_encode(df, merges).collect()
    }
    assert got == expect


def test_bpe_fit_sampled_learns_table_and_encodes_full_corpus(spark):
    """The sample-fit valve: a deterministic hash-sample fit must learn
    the same merge table as the full fit on a corpus whose pair
    statistics are uniform across docs, and the returned frame must
    cover the FULL corpus via the single-pass encoder."""
    rows = [(i, "t h e q u i c k t h e") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full, full_merges = text.bpe_fit(df, n_merges=2, min_count=2)
    full.release_cached()
    enc, merges = text.bpe_fit(
        df, n_merges=2, min_count=2, sample_fraction=0.5
    )
    assert [(m[0], m[1]) for m in merges] == [
        (m[0], m[1]) for m in full_merges
    ]
    got = enc.select("doc_id", "tokens_merged").collect()
    assert len(got) == 40  # full corpus, not the fit sample
    assert got[0].tokens_merged == {
        r.doc_id: r.tokens_merged for r in full.select(
            "doc_id", "tokens_merged").collect()
    }[got[0].doc_id]
    # sampled-mode frequencies come from the SAMPLE (documented):
    # roughly half the full-fit counts at fraction=0.5
    assert 0 < merges[0][2] < full_merges[0][2]
    with pytest.raises(ValueError, match="sample_fraction"):
        text.bpe_fit(df, 1, sample_fraction=1.5)
    with pytest.raises(ValueError, match="sample_fraction"):
        text.bpe_fit(df, 1, sample_fraction=0.00001)


def test_bpe_fit_checkpoint_rounds_learn_same_table(spark):
    """Lineage truncation (localCheckpoint every K rounds) is a plan
    valve, never a semantics change: the merge table and final token
    arrays match the uncheckpointed fit bit-for-bit."""
    df = spark.createDataFrame(
        [(0, "t h e t h e t h e x"), (1, "t h e m e t h e m e")],
        ["doc_id", "text"],
    )
    plain, m_plain = text.bpe_fit(df, n_merges=4, min_count=2,
                                  checkpoint_every=0)
    ckpt, m_ckpt = text.bpe_fit(df, n_merges=4, min_count=2,
                                checkpoint_every=2)
    assert m_ckpt == m_plain and len(m_plain) >= 2
    assert (
        {r.doc_id: r.tokens_merged for r in ckpt.collect()}
        == {r.doc_id: r.tokens_merged for r in plain.collect()}
    )
    plain.release_cached()
    if hasattr(ckpt, "release_cached"):
        ckpt.release_cached()


def test_dedup_paragraphs_lineage_mapping(spark):
    """with_lineage=True emits the ManyToOne provenance table: every
    non-empty paragraph instance -> its kept first occurrence, with
    identity rows for survivors, positions indexing the empty-filtered
    sequence, and the shared 60-bit fingerprint for audit."""
    df = spark.createDataFrame(
        [
            (1, "banner\nunique one"),
            (2, "banner\nunique two\n\nbanner"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    res, mapping = text.dedup_paragraphs(df, with_lineage=True)
    rows = {
        (r.src_id, r.src_pos): (r.kept_id, r.kept_pos)
        for r in mapping.collect()
    }
    assert rows[(1, 0)] == (1, 0)  # banner: the kept instance itself
    assert rows[(1, 1)] == (1, 1)  # survivor identity
    assert rows[(2, 0)] == (1, 0)  # doc2's banner -> doc1's instance
    assert rows[(2, 1)] == (2, 1)
    # doc2's SECOND banner sits at post-filter position 2 (the empty
    # paragraph between is structure, not content)
    assert rows[(2, 2)] == (1, 0)
    assert (3, 0) not in rows and len(rows) == 5
    # identical paragraphs share the fingerprint
    fps = {
        r.src_pos: r.fp
        for r in mapping.where(F.col("src_id") == 2).collect()
    }
    assert fps[0] == fps[2]
    # the result half is unchanged by lineage mode
    got = {r.doc_id: r for r in res.collect()}
    assert got[2].n_paras == 3 and got[2].n_kept == 1
    assert got[2].text == "unique two"
    assert got[3].text == "" and got[3].n_kept == 0


def test_blocklist_flags_exact_token_match(spark):
    df = spark.createDataFrame(
        [
            (0, "the Bad word appears bad twice"),
            (1, "badge and badly are not matches"),  # substring traps
            (2, "totally clean document"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.blocklist_flags(df, ["BAD"]).collect()}
    assert out[0].n_blocked == 2 and out[0].blocked  # case-insensitive, instances
    assert out[1].n_blocked == 0 and not out[1].blocked  # no substring match
    assert out[2].n_blocked == 0 and not out[2].blocked
    with pytest.raises(ValueError):
        text.blocklist_flags(df, [])
    with pytest.raises(ValueError):
        text.blocklist_flags(df, [str(i) for i in range(5000)])


def test_temperature_resample_null_stratum_is_a_stratum(spark):
    from python_dtl_spark.operators.sampling import temperature_resample

    rows = [(i, "big" if i < 500 else None) for i in range(520)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out = temperature_resample(df, "dom", "k", alpha=0).collect()
    null_kept = sum(1 for r in out if r.dom is None)
    # the 20-row NULL stratum is the smallest: keeps everything
    assert null_kept == 20
    # and the big stratum downsampled toward n_min rather than the
    # null rows silently vanishing in a non-null-safe join
    big_kept = sum(1 for r in out if r.dom == "big")
    assert 0 < big_kept < 500


def test_blocklist_null_text_reports_clean(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(0, "bad stuff"), (1, None)],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]),
    )
    out = {r.doc_id: r for r in text.blocklist_flags(df, ["bad"]).collect()}
    assert out[0].n_blocked == 1 and out[0].blocked
    assert out[1].n_blocked == 0 and out[1].blocked is False  # not NULL


def test_importer_merge_schema_unions_evolved_parts(spark, tmp_path):
    from pyspark.sql import types as T

    from python_dtl_spark.sources import FileSystemImporter

    root = str(tmp_path)
    tbl = f"{root}/evolving.parquet"
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode(
        "append"
    ).parquet(tbl)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(tbl)

    merged = FileSystemImporter(spark, root, merge_schema=True).import_table(
        "evolving"
    )
    assert set(merged.columns) == {"k", "v", "score"}
    rows = {r.k: r for r in merged.collect()}
    assert rows[1].score is None  # pre-evolution rows read NULL
    assert rows[2].score == 9.5


def test_exporter_sorted_write_enables_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    from python_dtl_spark.sources import FileSystemExporter, FileSystemImporter

    root = str(tmp_path)
    df = spark.range(0, 100000).selectExpr(
        "cast(id * 2654435761 % 100000 as long) as k",  # scrambled order
        "id as payload",
    )
    FileSystemExporter(
        root, num_output_files=2, sort_within_partitions=["k"]
    ).export_table("sorted", df)

    # every row group's min/max on k must be tight (sorted within file)
    import glob

    parts = glob.glob(f"{root}/sorted.parquet/part-*.parquet")
    assert parts
    for p in parts:
        f = pq.ParquetFile(p)
        prev_max = None
        for rg in range(f.metadata.num_row_groups):
            col = f.metadata.row_group(rg).column(0)  # k
            st = col.statistics
            assert st is not None and st.has_min_max
            if prev_max is not None:
                assert st.min >= prev_max  # non-overlapping row groups
            prev_max = st.max

    # and a pushed-down point predicate still reads correct data
    back = FileSystemImporter(spark, root).import_table("sorted")
    assert back.filter("k = 12345").count() == df.filter("k = 12345").count()


def test_pack_emit_concats_members_in_id_order(spark):
    df = spark.createDataFrame(
        [(0, "alpha", 3), (1, "beta", 3), (2, "gamma", 3), (3, "delta", 3)],
        ["doc_id", "text", "n_tokens"],
    )
    out = text.pack_emit(
        df, budget=6, num_groups=1, sep=" | "
    ).collect()
    # budget 6, 3 tokens each -> two docs per sequence, id order
    by_seq = {r.seq_index: r for r in out}
    assert by_seq[0].seq_text == "alpha | beta"
    assert by_seq[0].n_docs == 2 and by_seq[0].seq_tokens == 6
    assert by_seq[1].seq_text == "gamma | delta"
    # assignment matches pack_token_budget exactly
    assign = text.pack_token_budget(
        df, budget=6, num_groups=1, keep_cols=["text"]
    ).collect()
    assert {(r.doc_id, r.seq_index) for r in assign} == {
        (0, 0), (1, 0), (2, 1), (3, 1)
    }


def test_pack_token_budget_schema_unchanged_without_keep_cols(spark):
    df = spark.createDataFrame(
        [(0, 5)], ["doc_id", "n_tokens"]
    )
    out = text.pack_token_budget(df, budget=8, num_groups=2)
    assert out.columns == ["doc_id", "pack_group", "seq_index", "seq_offset"]


def test_equi_depth_histogram_buckets_and_edges(spark):
    from python_dtl_spark.operators.stats import equi_depth_histogram

    # 0..99: 4 buckets of exactly 25 rows, edges at 24/49/74
    df = spark.range(0, 100).selectExpr("cast(id as double) as v")
    out = {r.bucket: r for r in equi_depth_histogram(df, "v", 4).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert all(out[b].n == 25 for b in out)
    assert out[0].lo == 0.0 and out[0].hi == 24.0  # edge value stays low
    assert out[1].lo == 25.0 and out[3].hi == 99.0
    # heavy ties: one dominant value collapses buckets rather than
    # splitting a value across them
    tied = spark.createDataFrame(
        [(1.0,)] * 90 + [(2.0,)] * 10, "v double"
    )
    hist = {r.bucket: r for r in equi_depth_histogram(tied, "v", 4).collect()}
    assert hist[0].n == 90 and hist[0].lo == hist[0].hi == 1.0
    assert sum(r.n for r in hist.values()) == 100
    with pytest.raises(ValueError):
        equi_depth_histogram(df, "v", 1)


def test_table_profile_counts(spark):
    from python_dtl_spark.operators.stats import table_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, None), (2, "b", None)],
        "k long, v string, empty string",
    )
    out = {r.column: r for r in table_profile(df).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0
    assert out["k"].n_distinct == 2
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 2
    assert out["empty"].n_nulls == 3 and out["empty"].n_distinct == 0
    # approximate tier still returns every column, sane bounds
    approx = {
        r.column: r
        for r in table_profile(df, exact_distinct=False).collect()
    }
    assert set(approx) == {"k", "v", "empty"}
    assert approx["empty"].n_distinct == 0
    with pytest.raises(ValueError):
        table_profile(df.select())


def test_ohlc_resample_deterministic_open_close(spark):
    import datetime as dt

    from python_dtl_spark.operators.windows import ohlc_resample

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # bucket 0: ties on ts at both ends -> tiebreak by event_id
        (1, base, "a", 10.0),
        (0, base, "a", 5.0),            # same ts, lower id -> open
        (2, base + dt.timedelta(minutes=30), "a", 99.0),
        (3, base + dt.timedelta(minutes=59), "a", 7.0),
        (4, base + dt.timedelta(minutes=59), "a", 8.0),  # higher id -> close
        # bucket 1
        (5, base + dt.timedelta(hours=1), "a", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = sorted(
        ohlc_resample(df, ["event_type"], "ts", "value", "event_id", 3600).collect(),
        key=lambda r: r.bucket_start,
    )
    b0, b1 = out
    assert b0.open == 5.0 and b0.close == 8.0  # tie-broken by id
    assert b0.high == 99.0 and b0.low == 5.0 and b0.n == 5
    assert b1.open == b1.close == 1.0 and b1.n == 1


def test_winsorize_clips_to_actual_values(spark):
    from python_dtl_spark.operators.stats import winsorize

    df = spark.range(0, 1000).selectExpr(
        "id as event_id", "cast(id as double) as value"
    )
    out = winsorize(df, "value", lower=0.1, upper=0.9).collect()
    vals = {r.event_id: r.value_winsorized for r in out}
    assert len(vals) == 1000
    lo = min(vals.values())
    hi = max(vals.values())
    # bounds are actual data values at the 10th/90th percentile
    assert lo == 99.0 and hi == 899.0
    assert vals[0] == 99.0 and vals[500] == 500.0 and vals[999] == 899.0
    with pytest.raises(ValueError):
        winsorize(df, "value", lower=0.5, upper=0.5)


def test_embedding_similarity_join_cross_corpus(spark):
    import math

    from python_dtl_spark.operators.dedup import embedding_similarity_join

    # left: unit basis-ish vectors; right: copies + one rotated-away vector
    def unit(i, d=8):
        v = [0.0] * d
        v[i % d] = 1.0
        return v

    left = spark.createDataFrame(
        [(i, unit(i)) for i in range(4)], "vec_id long, embedding array<double>"
    )
    near = [math.cos(0.1), math.sin(0.1)] + [0.0] * 6  # cosine ~0.995 vs unit(0)
    right = spark.createDataFrame(
        [(100, unit(0)), (101, unit(1)), (102, near), (103, unit(5))],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r.id_l, r.id_r): r.cosine
        for r in embedding_similarity_join(
            left, right, threshold=0.9, planes=8, dim=8
        ).collect()
    }
    assert (0, 100) in out and abs(out[(0, 100)] - 1.0) < 1e-12
    assert (1, 101) in out
    assert (0, 102) in out and out[(0, 102)] > 0.99
    # orthogonal pairs never pass the exact-cosine verify
    assert all(c >= 0.9 for c in out.values())
    assert (0, 101) not in out and (2, 100) not in out
    # many-to-many allowed: left 0 matched two right rows
    assert len([k for k in out if k[0] == 0]) == 2


def test_winsorize_preserves_nulls(spark):
    from python_dtl_spark.operators.stats import winsorize

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)] + [(99, None)],
        "event_id long, value double",
    )
    out = {r.event_id: r.value_winsorized for r in winsorize(
        df, "value", lower=0.1, upper=0.9
    ).collect()}
    assert out[99] is None  # NULL stays NULL, never becomes the bound
    assert out[1] == 1.0 and out[10] == 9.0


def test_histogram_excludes_null_values(spark):
    from python_dtl_spark.operators.stats import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 11)] + [(None,)] * 5, "v double"
    )
    out = equi_depth_histogram(df, "v", 5).collect()
    assert sum(r.n for r in out) == 10  # NULLs not counted anywhere
    b0 = min(out, key=lambda r: r.bucket)
    assert b0.n == 2 and b0.lo == 1.0 and b0.hi == 2.0


def test_similarity_join_zero_vector_matches_nothing(spark):
    from python_dtl_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_similarity_join,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # dead embedding
        (2, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, planes=4, dim=4
        ).collect()
    }
    assert pairs == {(0, 2)}  # no NaN "matches" involving the zero vector
    cross = {
        (r.id_l, r.id_r)
        for r in embedding_similarity_join(
            df, df, threshold=0.9, planes=4, dim=4
        ).collect()
    }
    assert 1 not in {i for i, _ in cross} and 1 not in {j for _, j in cross}


def test_domain_quota_excludes_null_keys(spark):
    from python_dtl_spark.operators.sampling import domain_quota

    rows = [(i if i % 3 else None, "d") for i in range(30)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out = domain_quota(df, "dom", "k", quota=100).collect()
    # NULL keys excluded (no deterministic identity); non-null all kept
    assert sorted(r.k for r in out) == sorted(i for i in range(30) if i % 3)


def test_pack_token_budget_rejects_overlapping_keep_cols(spark):
    df = spark.createDataFrame([(0, 3, "x")], ["doc_id", "n_tokens", "text"])
    with pytest.raises(ValueError):
        text.pack_token_budget(df, keep_cols=["n_tokens"])
    with pytest.raises(ValueError):
        text.pack_token_budget(df, keep_cols=["doc_id", "text"])


def test_funnel_conversion_order_and_window(spark):
    import datetime as dt

    from python_dtl_spark.operators.analytics import funnel_conversion

    base = dt.datetime(2024, 1, 1)

    def t(m):
        return base + dt.timedelta(minutes=m)

    rows = [
        # user 1: full funnel in order
        (1, t(0), "view"), (1, t(5), "click"), (1, t(10), "purchase"),
        # user 2: purchase BEFORE click -> chain breaks at click? no:
        # view(0), purchase(2), click(5) -> click after view ok, but no
        # purchase after click -> 2 steps
        (2, t(0), "view"), (2, t(2), "purchase"), (2, t(5), "click"),
        # user 3: never viewed -> not in output
        (3, t(0), "click"), (3, t(1), "purchase"),
        # user 4: view only
        (4, t(0), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.user_id: r for r in funnel_conversion(
        df, ["view", "click", "purchase"]
    ).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].steps_completed == 3
    assert out[2].steps_completed == 2 and out[2].t_purchase is None
    assert out[4].steps_completed == 1 and out[4].t_click is None
    # within_seconds: user 1's click is 5 min after view; a 60s window
    # breaks the chain (and everything downstream)
    tight = {r.user_id: r for r in funnel_conversion(
        df, ["view", "click", "purchase"], within_seconds=60
    ).collect()}
    assert tight[1].steps_completed == 1
    with pytest.raises(ValueError):
        funnel_conversion(df, ["view"])


def test_cohort_retention_counts(spark):
    import datetime as dt

    from python_dtl_spark.operators.analytics import cohort_retention

    day = 24 * 3600
    base = dt.datetime(2024, 1, 4)  # period boundary irrelevant: per-day periods

    rows = []
    # cohort A: users 1,2 first active day 0; user 1 returns day 1
    rows += [(1, base), (2, base), (1, base + dt.timedelta(days=1))]
    # cohort B: user 3 first active day 1
    rows += [(3, base + dt.timedelta(days=1))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r.cohort_start, r.offset): r for r in cohort_retention(
        df, period_seconds=day
    ).collect()}
    cohorts = sorted({c for c, _ in out})
    a, b = cohorts
    assert out[(a, 0)].n_users == 2 and out[(a, 0)].cohort_size == 2
    assert out[(a, 1)].n_users == 1 and abs(out[(a, 1)].retention - 0.5) < 1e-12
    assert out[(b, 0)].n_users == 1 and out[(b, 0)].cohort_size == 1
    assert (b, 1) not in out


def test_weighted_sample_proportional_and_deterministic(spark):
    from python_dtl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i < 4000 else 0.25) for i in range(8000)]
    df = spark.createDataFrame(rows, "k long, w double")
    out = weighted_sample(df, "w", "k").collect()
    hi = sum(1 for r in out if r.w == 1.0)
    lo = sum(1 for r in out if r.w == 0.25)
    assert hi == 4000  # weight == max -> bucket < 10000 always true
    assert 800 < lo < 1200  # ~25% of 4000
    # layout invariance
    again = weighted_sample(df.repartition(11), "w", "k").collect()
    assert {r.k for r in again} == {r.k for r in out}
    # NULL / zero / negative weights never kept
    edge = spark.createDataFrame(
        [(1, None), (2, 0.0), (3, -5.0), (4, 2.0)], "k long, w double"
    )
    kept = {r.k for r in weighted_sample(edge, "w", "k").collect()}
    assert kept == {4}


def test_weighted_sample_null_key_does_not_set_wmax(spark):
    from python_dtl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0) for i in range(100)] + [(None, 100.0)]
    df = spark.createDataFrame(rows, "k long, w double")
    out = weighted_sample(df, "w", "k").collect()
    # all valid rows have w == max over VALID rows -> all kept; the
    # excluded NULL-key outlier must not shrink the sample 100x
    assert len(out) == 100


def test_keep_one_raises_on_nonconvergence_instead_of_wrong_clusters(spark):
    """A duplicate chain longer than max_iter hops must raise: falling
    through silently emitted clusters whose cluster_id was not any
    keeper's id."""
    # loop tier forced (max_driver_edges=0): the driver union-find tier
    # has no iteration to time out.  The chain must be long enough that
    # pointer jumping (O(log diameter) rounds) still cannot finish in 2
    # rounds.
    ids = spark.createDataFrame([(i,) for i in range(65)], "vec_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.keep_one_from_pairs(
            ids, chain, max_iter=2, max_driver_edges=0
        ).collect()
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in dedup.keep_one_from_pairs(
            ids, chain, max_iter=10, max_driver_edges=0
        ).collect()
    }
    assert all(c == 0 for c, _ in out.values())
    assert [k for k, (_, keep) in sorted(out.items()) if keep] == [0]


def test_simhash_and_shingles_keep_empty_docs(spark):
    """Empty/NULL docs must stay visible: simhash emits a row (all
    empty docs share one deterministic signature) and n=1 shingles fall
    back to [\"\"] like the n>=2 path, so lsh_dedup_keep(n=1) clusters
    empty docs together instead of dropping them."""
    docs = spark.createDataFrame(
        [(0, "real words here"), (1, ""), (2, None), (3, "")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert set(sh) == {0, 1, 2, 3}
    assert sh[1] == sh[2] == sh[3]
    out = {
        r.doc_id: r.keep
        for r in dedup.lsh_dedup_keep(docs, n=1, num_hashes=8, bands=4).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    # the empty docs form one cluster with a single keeper
    assert sum(1 for d in (1, 2, 3) if out[d]) == 1


def test_minhash_duplicate_ids_one_row_per_pair(spark):
    """A duplicated doc_id must not blend a chimera signature or
    re-expand verified pairs through the shingle join-backs."""
    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (2, base)], "doc_id long, text string"
    )
    out = dedup.minhash_lsh_pairs(docs, n=2, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]


def test_simhash_near_pairs_default_blocks_accepts_large_radius(spark):
    """max_hamming=16 must derive blocks=17, not reject its own
    default (the old cap of 16 made blocks <= max_hamming)."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out = dedup.simhash_near_pairs(docs, max_hamming=16).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]


def test_hamming_near_pairs_matches_bruteforce(spark):
    """hamming_near_pairs (the pigeonhole core extracted from
    simhash_near_pairs) over a constructed 64-bit signature table:
    exact distances, inclusion iff <= max_hamming, including a
    candidate that shares a block but exceeds the radius (the
    verification half), and the negative-long sign bit."""
    base = 0x123456789ABCDEF0
    spread3 = (1 << 0) | (1 << 20) | (1 << 40)  # one bit in 3 chunks
    spread4 = spread3 | (1 << 60)               # one bit in all 4 chunks
    rows = [
        (0, base),
        (1, base ^ 1),        # d=1
        (2, base ^ 0b11),     # d=2 (same low chunk)
        (3, base ^ spread3),  # d=3 -> included at radius 3
        (4, base ^ spread4),  # d=4 vs 0 -> excluded, but d=1 vs 3
        (5, base ^ ((1 << 63) - 1 ^ 0)),  # far from everything
        (6, -(1 << 63) | base),  # sign bit set (negative long)
    ]
    sigs = spark.createDataFrame(rows, "asset_id long, phash long")
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_near_pairs(
            sigs, "asset_id", "phash", max_hamming=3
        ).collect()
    }
    expect = {}
    for i, (ia, sa) in enumerate(rows):
        for ib, sb in rows[i + 1:]:
            d = bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= 3:
                expect[(ia, ib)] = d
    assert out == expect and (0, 3) in out and (3, 4) in out
    assert (0, 4) not in out  # shared-block candidate, rejected by verify


def test_image_near_dup_pairs_fake_decode(spark):
    """image_near_dup_pairs: groups of 4 assets sharing one payload
    collapse to identical fake phashes -> C(4,2)=6 pairs per group at
    distance 0; cross-group pairs (independent 64-bit hashes) never
    land within radius 6."""
    assets = spark.range(32).select(
        F.col("id").alias("asset_id"),
        F.sha2((F.col("id") - F.col("id") % 4).cast("string"), 256)
        .cast("binary")
        .alias("payload"),
    )
    out = multimodal.image_near_dup_pairs(assets, max_hamming=6, fake=True)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    expect = {
        (a, b): 0
        for g in range(0, 32, 4)
        for a in range(g, g + 4)
        for b in range(a + 1, g + 4)
    }
    assert pairs == expect  # 8 groups x 6 pairs, all distance 0


def test_keep_rate_filter_exact_rational_gate(spark):
    """keep_rate_filter: the (num, den) rate compare is exact —
    boundary groups survive at equality, NULL flags count as
    not-kept, NULL groups gate like any other value, min_group_rows
    drops small groups, and ALL rows of surviving groups return."""
    from python_dtl_spark.operators.sampling import keep_rate_filter

    rows = [
        # group a: 3/4 kept == 3/4 exactly -> survives
        (0, "a", True), (1, "a", True), (2, "a", True), (3, "a", False),
        # group b: 2/4 < 3/4 -> dropped
        (4, "b", True), (5, "b", True), (6, "b", False), (7, "b", None),
        # NULL group: 2/2 kept -> survives (null-safe join back)
        (8, None, True), (9, None, True),
        # group c: singleton, kept
        (10, "c", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, keep boolean")
    out = {r.doc_id for r in keep_rate_filter(df, "dom", "keep").collect()}
    assert out == {0, 1, 2, 3, 8, 9, 10}
    # min_group_rows drops the singleton; boundary group a still in
    out2 = {
        r.doc_id
        for r in keep_rate_filter(
            df, "dom", "keep", min_group_rows=2
        ).collect()
    }
    assert out2 == {0, 1, 2, 3, 8, 9}
    with pytest.raises(ValueError, match="min_rate"):
        keep_rate_filter(df, "dom", "keep", min_rate=(1, 0))
    with pytest.raises(ValueError, match="not in"):
        keep_rate_filter(df, "nope", "keep")


def test_corpus_report_exact_accounting(spark):
    """corpus_report: every per-source metric equals the brute force —
    NULL text counts as a doc with zero chars/tokens and is excluded
    from the distinct count, flag true-counts ignore NULL flags, and
    missing columns raise."""
    from python_dtl_spark.operators.stats import corpus_report

    rows = [
        (0, "s1", "a b  c", True),
        (1, "s1", "a b  c", False),   # exact dup of 0
        (2, "s1", None, None),        # NULL text, NULL flag
        (3, "s2", "  ", True),        # whitespace-only: 0 tokens, 2 chars
        (4, "s2", "one two three", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string, keep boolean")
    out = {
        r.source: r.asDict()
        for r in corpus_report(df, flag_cols=["keep"]).collect()
    }
    assert out["s1"]["n_docs"] == 3 and out["s1"]["n_null_text"] == 1
    assert out["s1"]["sum_chars"] == 12 and out["s1"]["sum_tokens"] == 6
    assert out["s1"]["n_distinct_texts"] == 1 and out["s1"]["n_keep"] == 1
    assert out["s2"]["n_docs"] == 2 and out["s2"]["n_null_text"] == 0
    assert out["s2"]["sum_chars"] == 15 and out["s2"]["sum_tokens"] == 3
    assert out["s2"]["n_distinct_texts"] == 2 and out["s2"]["n_keep"] == 2
    with pytest.raises(ValueError, match="columns"):
        corpus_report(df, flag_cols=["nope"])


def test_r17_operators_accept_dotted_column_names(spark):
    """keep_rate_filter / corpus_report / snapshot_diff with dotted
    input column names: refs are backtick-quoted and snapshot_diff's
    internal aliases are index-based, so dots never misparse as
    struct paths (the r16 keep_newest advisor lesson, enforced
    proactively on the r17 operators)."""
    from python_dtl_spark.operators.cdc import snapshot_diff
    from python_dtl_spark.operators.sampling import keep_rate_filter
    from python_dtl_spark.operators.stats import corpus_report

    df = spark.createDataFrame(
        [(1, "d1", True, "x y"), (2, "d1", True, "x"), (3, "d1", False, "z"),
         (4, "d2", False, None), (5, "d2", False, "w")],
        ["doc.id", "my.domain", "is.keep", "the.text"],
    )
    kept = {
        r["doc.id"]
        for r in keep_rate_filter(
            df, "my.domain", "is.keep", min_rate=(1, 2)
        ).collect()
    }
    assert kept == {1, 2, 3}  # d1 at 2/3 survives, d2 at 0/2 drops

    card = {
        r["my.domain"]: r.asDict()
        for r in corpus_report(
            df, "my.domain", "the.text", flag_cols=["is.keep"]
        ).collect()
    }
    assert card["d1"]["n_docs"] == 3 and card["d1"]["sum_tokens"] == 4
    assert card["d2"]["n_null_text"] == 1 and card["d2"]["n_is.keep"] == 0

    old = df.select("`doc.id`", "`the.text`")
    new = old.filter(old["`doc.id`"] != 2)
    out = {
        r["doc.id"]: r.diff_status
        for r in snapshot_diff(old, new, ["doc.id"]).collect()
    }
    assert out == {2: "removed"}


def test_snapshot_diff_statuses_and_nulls(spark):
    """snapshot_diff: all four statuses, NULL keys match null-safely,
    NULL vs value in a compare column IS a change, include_unchanged
    gates the identity rows, and bad args raise."""
    from python_dtl_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (None, "n", 5)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged
         (2, "B", 20),        # changed (v)
         (3, "c", 30),        # changed (w: NULL -> 30)
         (None, "n", 5),      # unchanged, NULL key matched null-safely
         (4, "d", 40)],       # added
        "k long, v string, w long",
    )
    got = {
        r.k: r.diff_status
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "added"}
    full = {
        r.k: r.diff_status
        for r in snapshot_diff(old, new, ["k"], include_unchanged=True).collect()
    }
    assert full[1] == "unchanged" and full[None] == "unchanged"
    # removed: key present only in old
    got2 = {
        r.k: r.diff_status for r in snapshot_diff(new, old, ["k"]).collect()
    }
    assert got2[4] == "removed"
    # compare_cols restriction: only v -> row 3 becomes unchanged
    got3 = {
        r.k: r.diff_status
        for r in snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
    }
    assert 3 not in got3 and got3[2] == "changed"
    with pytest.raises(ValueError, match="key_cols"):
        snapshot_diff(old, new, ["nope"])
    with pytest.raises(ValueError, match="compare_cols"):
        snapshot_diff(old, new, ["k"], compare_cols=["nope"])


def test_source_drift_card_counts_and_group_moves(spark):
    """source_drift_card: exact per-group added/removed/changed/
    unchanged counts; a row that MOVED groups counts as removed from
    its old group and added to its new one (the churn grain); NULL
    groups aggregate as their own group; group_col duplicated in
    key_cols raises."""
    import pytest as _pytest

    from python_dtl_spark.operators.cdc import source_drift_card

    old = spark.createDataFrame(
        [
            (1, "s1", "a"),   # unchanged
            (2, "s1", "b"),   # changed text
            (3, "s1", "c"),   # removed entirely
            (4, "s2", "d"),   # moves s2 -> s3
            (5, None, "e"),   # NULL group, unchanged
        ],
        "k long, src string, txt string",
    )
    new = spark.createDataFrame(
        [
            (1, "s1", "a"),
            (2, "s1", "B"),
            (4, "s3", "d"),
            (5, None, "e"),
            (6, "s2", "f"),   # added
        ],
        "k long, src string, txt string",
    )
    got = {
        r.src: (r.n_added, r.n_removed, r.n_changed, r.n_unchanged)
        for r in source_drift_card(old, new, ["k"], "src").collect()
    }
    assert got == {
        "s1": (0, 1, 1, 1),
        "s2": (1, 1, 0, 0),   # k=4 left s2; k=6 arrived
        "s3": (1, 0, 0, 0),   # k=4 arrived in s3
        None: (0, 0, 0, 1),
    }
    with _pytest.raises(ValueError, match="group_col"):
        source_drift_card(old, new, ["k", "src"], "src")


def test_source_drift_card_dotted_names(spark):
    """Dotted key/group names resolve as literal columns end to end
    (the r17 dot-safety convention)."""
    from python_dtl_spark.operators.cdc import source_drift_card

    old = spark.createDataFrame([(1, "s1", "a")], "k long, src string, txt string")
    new = spark.createDataFrame([(1, "s1", "b")], "k long, src string, txt string")
    o = old.select(
        F.col("k").alias("doc.id"),
        F.col("src").alias("doc.src"),
        F.col("txt").alias("doc.txt"),
    )
    n = new.select(
        F.col("k").alias("doc.id"),
        F.col("src").alias("doc.src"),
        F.col("txt").alias("doc.txt"),
    )
    rows = source_drift_card(o, n, ["doc.id"], "doc.src").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc.src"] == "s1"
    assert (r.n_added, r.n_removed, r.n_changed, r.n_unchanged) == (0, 0, 1, 0)


def test_embedding_dim_inference_clear_errors(spark):
    from python_dtl_spark.operators.similarity import _infer_dim

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pass dim="):
        _infer_dim(empty, "embedding")
    null_first = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="pass dim="):
        _infer_dim(null_first, "embedding")


def test_interval_join_rejects_missing_ts_col(spark):
    """ts_col absent from the left frame previously made both range
    bounds reference the right column — a silent unbounded key join."""
    from python_dtl_spark.streaming import interval_join

    left = spark.createDataFrame([(1, 5)], "user_id long, event_ts long")
    right = spark.createDataFrame([(1, 3)], "user_id long, ts long")
    with pytest.raises(ValueError, match="left frame lacks"):
        interval_join(left, right, by="user_id", ts_col="ts")


def test_asof_join_ignores_null_right_timestamps(spark):
    """A right row with a NULL 'on' value has no position on the axis:
    the window sorts NULLS FIRST, so without the filter it would hand
    its payload to any left row with no genuine earlier match."""
    from python_dtl_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, None, 42.0), (1, 100, 7.0)], "k long, ts long, v double"
    )
    [row] = asof_join(left, right, on="ts", by="k", value_cols=["v"]).collect()
    assert row.v is None  # no right row at or before ts=5


def test_hash_split_null_keys_get_null_split(spark):
    """NULL keys must not silently land in the last-named split (the
    eval split, usually) — they get a NULL split: excluded from every
    branch but still visible."""
    from python_dtl_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(1,), (2,), (None,)], "k long"
    )
    out = {r.k: r.split for r in hash_split(
        df, "k", {"train": 0.9, "test": 0.1}
    ).collect()}
    assert out[None] is None
    assert out[1] in ("train", "test") and out[2] in ("train", "test")


def test_weighted_sample_infinite_weight_does_not_poison_wmax(spark):
    from python_dtl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0) for i in range(100)] + [(1000, float("inf"))]
    df = spark.createDataFrame(rows, "k long, w double")
    out = {r.k for r in weighted_sample(df, "w", "k").collect()}
    # one +inf weight would make w_max infinite and empty the sample
    assert out == set(range(100))


def test_lsh_multiprobe_bits_widen_probing(spark):
    """multiprobe_bits=2 must probe all Hamming<=2 buckets — previously
    it silently probed the same distance-1 set as bits=1."""
    from python_dtl_spark.operators import similarity

    # corpus vector and query differ in sign on exactly 2 hyperplanes
    # with high probability under a fixed seed: search for a pair of
    # vectors whose signatures differ by 2 bits, then require that
    # bits=2 finds it and bits=1 does not.
    import itertools
    import random

    rng = random.Random(11)
    dim = 8
    hyperplanes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(8)]

    def sig(v):
        s = 0
        for p, plane in enumerate(hyperplanes):
            if sum(a * b for a, b in zip(v, plane)) > 0:
                s |= 1 << p
        return s

    base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    other = None
    for _ in range(2000):
        cand = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        if bin(sig(base) ^ sig(cand)).count("1") == 2:
            other = cand
            break
    assert other is not None
    corpus = spark.createDataFrame([(1, other)], "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(100, base)], "query_id long, embedding array<double>")
    near1 = similarity.lsh_bucketed_topk(
        corpus, queries, k=5, planes=8, multiprobe_bits=1, dim=dim
    ).count()
    near2 = similarity.lsh_bucketed_topk(
        corpus, queries, k=5, planes=8, multiprobe_bits=2, dim=dim
    ).count()
    assert near1 == 0 and near2 == 1


def test_range_join_guards_runaway_interval(spark):
    """A dirty interval spanning more buckets than the guard must fail
    loudly (silently skipping it would silently drop matches)."""
    import pytest as _pytest

    from python_dtl_spark.operators.joins import range_join_point_in_interval

    points = spark.createDataFrame([(50,)], "t long")
    dirty = spark.createDataFrame([(0, 10_000_000)], "s long, e long")
    df = range_join_point_in_interval(
        points, dirty, "t", "s", "e", bucket_seconds=1,
        max_buckets_per_interval=1000,
    )
    with _pytest.raises(Exception, match="max_buckets_per_interval"):
        df.collect()
    # clean intervals still join
    clean = spark.createDataFrame([(0, 100)], "s long, e long")
    out = range_join_point_in_interval(
        points, clean, "t", "s", "e", bucket_seconds=1,
        max_buckets_per_interval=1000,
    ).collect()
    assert len(out) == 1


def test_resample_ffill_null_group_key_keeps_observations(spark):
    """groupBy keeps NULL as a real group; the null-safe join back must
    too — previously every NULL-group bucket emitted value=NULL,
    observed=false."""
    import datetime

    from python_dtl_spark.operators.windows import resample_ffill

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(None, t0, 1, 5.0), (7, t0, 2, 9.0)],
        "g long, ts timestamp, tb long, v double",
    )
    out = {
        r.g: (r.value, r.observed)
        for r in resample_ffill(df, ["g"], "ts", "v", "tb", 3600).collect()
    }
    assert out[None] == (5.0, True)
    assert out[7] == (9.0, True)


def test_weighted_sample_nan_weight_does_not_poison_wmax(spark):
    from python_dtl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0) for i in range(100)] + [(1000, float("nan"))]
    df = spark.createDataFrame(rows, "k long, w double")
    out = {r.k for r in weighted_sample(df, "w", "k").collect()}
    # NaN sorts above every double in Spark: without the pre-max filter
    # w_max would be NaN and b*NaN < w*10000 false for EVERY row,
    # silently emptying the sample.  The NaN row itself is never kept.
    assert out == set(range(100))


def test_temperature_thresholds_sql_counts_exclude_null_keys(spark):
    """Engine and oracle must count the SAME population per stratum:
    NULL-keyed rows can never survive membership, so they are filtered
    before counting on both sides — a stratum padded with NULL keys
    must not get a deflated keep fraction in either engine."""
    import duckdb
    import pyarrow as pa

    from python_dtl_spark.operators.sampling import (
        temperature_resample,
        temperature_thresholds_sql,
    )

    rows = (
        [(i, "big") for i in range(4000)]
        + [(i + 10_000, "small") for i in range(500)]
        # NULL-key padding concentrated in one stratum: with the old
        # oracle this inflated small's __n from 500 to 1500
        + [(None, "small")] * 1000
    )
    df = spark.createDataFrame(rows, "k long, s string")
    from fractions import Fraction

    engine = {
        r.k
        for r in temperature_resample(df, "s", "k", Fraction(1, 2)).collect()
    }
    # arrow keeps k a nullable int64 (pandas would coerce to double,
    # changing every hash)
    tbl = pa.table(
        {
            "k": pa.array([r[0] for r in rows], type=pa.int64()),
            "s": pa.array([r[1] for r in rows]),
        }
    )
    con = duckdb.connect()
    con.register("t", tbl)
    sql = temperature_thresholds_sql("t", "s", "k", Fraction(1, 2))
    oracle = {r[0] for r in con.execute(sql).fetchall()}
    assert engine == oracle


def test_funnel_rejects_duplicate_steps(spark):
    from python_dtl_spark.operators.analytics import funnel_conversion

    df = spark.createDataFrame(
        [(1, None, "view")], "user_id long, ts timestamp, event_type string"
    )
    with pytest.raises(ValueError):
        funnel_conversion(df, ["view", "click", "view"])


def test_apply_changes_respects_literal_dunder_op_column(spark):
    """A changes frame whose op column is literally named __op (the
    latest_changes convention) must have its deletes honored — with
    op_col=None it was silently overwritten with 'upsert', and with
    op_col='__op' the validation dropped the column and crashed."""
    from python_dtl_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    ch = spark.createDataFrame(
        [(1, 5, "delete", None), (3, 5, "upsert", 30.0)],
        "k long, seq long, __op string, v double",
    )
    for kwargs in ({}, {"op_col": "__op"}):
        out = {r.k: r.v for r in apply_changes(snap, ch, ["k"], "seq", **kwargs).collect()}
        assert out == {2: 20.0, 3: 30.0}, kwargs


def test_apply_changes_null_key_matches_null_snapshot_row(spark):
    """NULL is a key value: a delete targeting the NULL key must remove
    the snapshot's NULL-key row (null-safe join), and an upsert must
    replace it rather than duplicating it."""
    from python_dtl_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(None, 10.0), (2, 20.0)], "k long, v double")
    deletes = spark.createDataFrame(
        [(None, 5, "delete", None)], "k long, seq long, op string, v double"
    )
    out = {r.k: r.v for r in apply_changes(snap, deletes, ["k"], "seq", op_col="op").collect()}
    assert out == {2: 20.0}
    upserts = spark.createDataFrame(
        [(None, 5, "upsert", 99.0)], "k long, seq long, op string, v double"
    )
    rows = apply_changes(snap, upserts, ["k"], "seq", op_col="op").collect()
    assert {r.k: r.v for r in rows} == {None: 99.0, 2: 20.0}
    assert len(rows) == 2  # replaced, not duplicated


def test_zscore_outliers_nan_does_not_poison_group(spark):
    """One NaN reading must not make the whole group outliers: NaN is
    masked from the mean/std aggregates and the NaN row itself is never
    a candidate (NaN compares greater than any number in Spark)."""
    from python_dtl_spark.operators.stats import zscore_outliers

    rows = [("g", float(v)) for v in (10, 10, 10, 10, 10, 10, 10, 100)] + [
        ("g", float("nan"))
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = zscore_outliers(df, "value", ["grp"], z=2.0).collect()
    assert [r.value for r in out] == [100.0]


def test_latest_changes_delete_wins_with_named_op_col(spark):
    from python_dtl_spark.operators.cdc import latest_changes

    df = spark.createDataFrame(
        [(1, 5, "upsert", 10.0), (1, 5, "delete", 99.0)],
        "k long, seq long, op string, v double",
    )
    # same seq: delete must win via the documented tie-break, not by
    # accident of attribute ordering — requires naming the op column
    win = latest_changes(df, ["k"], "seq", op_col="op").collect()
    assert len(win) == 1 and win[0].op == "delete"


def test_apply_changes_rejects_invalid_op_values(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from python_dtl_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, 10.0)], "k long, v double")
    bad = spark.createDataFrame(
        [(1, 1, "UPSERT", 11.0)], "k long, seq long, op string, v double"
    )
    with pytest.raises((Py4JJavaError, PySparkException)) as exc:
        apply_changes(snap, bad, ["k"], "seq", op_col="op").collect()
    assert "apply_changes: op must be" in str(exc.value)
    nulled = spark.createDataFrame(
        [(1, 1, None, 11.0)], "k long, seq long, op string, v double"
    )
    with pytest.raises((Py4JJavaError, PySparkException)):
        apply_changes(snap, nulled, ["k"], "seq", op_col="op").collect()


def test_zscore_outliers_reports_null_group(spark):
    from python_dtl_spark.operators.stats import zscore_outliers

    rows = [(i, None, 1.0) for i in range(50)] + [(99, None, 1000.0)]
    rows += [(100 + i, "a", 1.0) for i in range(50)] + [(199, "a", 1000.0)]
    df = spark.createDataFrame(rows, "event_id long, g string, v double")
    out = zscore_outliers(df, "v", ["g"], z=3.0).collect()
    flagged = {(r.g, r.event_id) for r in out}
    assert (None, 99) in flagged  # NULL group's outlier is reported
    assert ("a", 199) in flagged


def test_kmeans_memo_cleared_by_importer_invalidate(spark, tmp_path):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.similarity import (
        _KMEANS_MEMO,
        fit_kmeans,
    )
    from python_dtl_spark.sources import FileSystemImporter

    vecs = spark.range(0, 200).select(
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 3).cast("double")
        ).alias("__cv")
    )
    fit_kmeans(vecs, n_centroids=2, seed=1, fit_sample=100)
    assert len(_KMEANS_MEMO) > 0
    FileSystemImporter(spark, str(tmp_path)).invalidate()
    assert len(_KMEANS_MEMO) == 0  # derived cache dropped with the memo


def test_random_projection_survives_colliding_column(spark):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.embeddings import random_projection

    df = spark.range(0, 3).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
        F.lit("keep-me").alias("__rp_in"),  # collides with the old temp name
    )
    out = random_projection(df, dim=2, out_dim=2, seed=5)
    assert "__rp_in" in out.columns  # caller's column untouched
    assert out.select("__rp_in").first()[0] == "keep-me"


def test_time_rollup_avg_is_sql_avg_with_nulls(spark):
    """avg_<v> divides by the NON-NULL count (SQL AVG): dividing by
    n_rows deflated any column with NULLs; empty grains raise a clear
    ValueError; dotted value-column names resolve (index-named internal
    aggregates)."""
    import datetime

    from python_dtl_spark.operators.rollup import time_rollup

    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    df = spark.createDataFrame(
        [("a", t0, 10.0), ("a", t0, None)],
        "dim string, ts timestamp, `v.x` double",
    )
    [row] = time_rollup(df, "ts", ["dim"], ["v.x"], ["hour"]).collect()
    assert row["n_rows"] == 2
    assert row["avg_v.x"] == 10.0  # sum 10 / non-null count 1, NOT /2

    with pytest.raises(ValueError, match="grains must not be empty"):
        time_rollup(df, "ts", ["dim"], ["v.x"], [])


def test_funnel_dotted_step_names(spark):
    import datetime

    from python_dtl_spark.operators.analytics import funnel_conversion

    t = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t, "page.view"),
        (1, t + datetime.timedelta(minutes=1), "page.click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    [r] = funnel_conversion(df, ["page.view", "page.click"]).collect()
    assert r["steps_completed"] == 2
    assert r["t_page.view"] is not None and r["t_page.click"] is not None


def test_cohort_retention_null_users_excluded(spark):
    """NULL users previously inflated cohort_size while never appearing
    in n_users — offset-0 retention read < 1."""
    import datetime

    from python_dtl_spark.operators.analytics import cohort_retention

    t = datetime.datetime(2024, 1, 1)
    rows = [(1, t), (2, t), (None, t)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    [r] = cohort_retention(df).collect()
    assert r.cohort_size == 2 and r.n_users == 2 and r.retention == 1.0


# ---------------------------------------------------------------------------
# round-8 second wave: JSON extraction, kNN classify, MAD, shards, cube
# ---------------------------------------------------------------------------


def test_json_extract_fields_typed_missing_and_malformed(spark):
    from python_dtl_spark.operators import semistructured

    df = spark.createDataFrame(
        [
            (1, '{"k": 7, "s": "a", "arr": [1, 2]}'),
            (2, '{"k": "not-an-int", "s": "b"}'),  # wrong type -> NULL k
            (3, '{"s": "c"}'),  # missing k -> NULL
            (4, "{broken json"),  # malformed -> all NULL
            (5, None),  # NULL doc -> all NULL
        ],
        "id long, props string",
    )
    out = semistructured.json_extract_fields(
        df, "props", {"k": "bigint", "s": "string", "arr": "array<bigint>"}
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["k"] == 7 and rows[1]["s"] == "a" and rows[1]["arr"] == [1, 2]
    assert rows[2]["k"] is None and rows[2]["s"] == "b"
    assert rows[3]["k"] is None
    assert rows[4]["k"] is None and rows[4]["s"] is None
    assert rows[5]["k"] is None
    assert dict(out.dtypes)["k"] == "bigint"
    assert dict(out.dtypes)["arr"] == "array<bigint>"
    # original columns preserved, no helper column leaks
    assert set(out.columns) == {"id", "props", "k", "s", "arr"}


def test_json_extract_fields_requires_fields(spark):
    import pytest

    from python_dtl_spark.operators import semistructured

    df = spark.createDataFrame([(1, "{}")], "id long, props string")
    with pytest.raises(ValueError, match="at least one field"):
        semistructured.json_extract_fields(df, "props", {})


def test_knn_classify_majority_vote_and_tiebreak(spark):
    from python_dtl_spark.operators import similarity

    # three tight clusters on distinct axes; within a cluster every
    # vector's nearest neighbors are its cluster-mates, so the
    # leave-one-out vote must reproduce the cluster label
    rows = []
    for cluster, label in ((0, 10), (1, 20), (2, 30)):
        for j in range(5):
            vec = [0.0] * 6
            vec[cluster * 2] = 1.0
            vec[cluster * 2 + 1] = 0.01 * j  # break exact ties
            rows.append((cluster * 100 + j, vec, label))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.knn_classify(df, k=4)
    got = {r["vec_id"]: (r["predicted_label"], r["votes"]) for r in out.collect()}
    assert len(got) == 15
    for cluster, label in ((0, 10), (1, 20), (2, 30)):
        for j in range(5):
            assert got[cluster * 100 + j] == (label, 4)


def test_knn_classify_tie_breaks_by_best_rank_then_label(spark):
    from python_dtl_spark.operators import similarity

    # query 0's two nearest neighbors split 1-1 between labels 5 and 9;
    # label 9 owns the CLOSER neighbor, so it must win the tie
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 5),
            (1, [0.9, 0.1], 9),   # closest to 0
            (2, [0.8, 0.25], 5),  # second-closest
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = {r["vec_id"]: r for r in similarity.knn_classify(df, k=2).collect()}
    assert out[0]["predicted_label"] == 9 and out[0]["votes"] == 1


def test_knn_classify_lsh_tier_matches_exact_on_separated_clusters(spark):
    from python_dtl_spark.operators import similarity

    rows = []
    for cluster, label in ((0, 1), (1, 2)):
        for j in range(6):
            vec = [0.0] * 8
            vec[cluster * 4] = 1.0
            vec[cluster * 4 + 1] = 0.02 * j
            rows.append((cluster * 10 + j, vec, label))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    exact = {
        r["vec_id"]: r["predicted_label"]
        for r in similarity.knn_classify(df, k=3).collect()
    }
    lsh = {
        r["vec_id"]: r["predicted_label"]
        for r in similarity.knn_classify(
            df, k=3, method="lsh", planes=4, multiprobe_bits=2, dim=8
        ).collect()
    }
    assert exact == {r[0]: r[2] for r in rows}
    # antipodal clusters always separate under any hyperplane set that
    # splits them; multiprobe keeps cluster-mates reachable
    for vid, lab in lsh.items():
        assert lab == exact[vid]


def test_knn_classify_rejects_unknown_method(spark):
    import pytest

    from python_dtl_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0], 1)], "vec_id long, embedding array<double>, label int"
    )
    with pytest.raises(ValueError, match="method"):
        similarity.knn_classify(df, method="annoy")


def test_mad_outliers_flags_extreme_not_dragged_by_it(spark):
    from python_dtl_spark.operators import stats

    # 9 values near 10 plus one at 1000: the outlier drags the MEAN so
    # hard the plain z-score misses it (z < 3.5 in a 10-row group), but
    # median/MAD stay at the bulk and flag it
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 10.5, 11.0, 11.5, 1000.0]
    df = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate(vals)], "id long, g string, value double"
    )
    out = stats.mad_outliers(df, "value", ["g"], z=3.5)
    rows = out.collect()
    assert [r["id"] for r in rows] == [9]
    assert rows[0]["group_median"] == 10.0
    assert rows[0]["group_mad"] == 0.5
    assert abs(rows[0]["robust_z"] - 0.6745 * (1000.0 - 10.0) / 0.5) < 1e-9


def test_mad_outliers_zero_mad_group_flags_nothing(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [(i, "c", 5.0) for i in range(9)] + [(9, "c", 500.0)],
        "id long, g string, value double",
    )
    # median 5, MAD 0 (majority at the median): no division, no flags
    assert stats.mad_outliers(df, "value", ["g"]).count() == 0


def test_mad_outliers_nan_and_null_do_not_poison_group(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [(0, "a", 9.0), (1, "a", 10.0), (2, "a", 10.0), (3, "a", 11.0),
         (4, "a", float("nan")), (5, "a", None), (6, "a", 1000.0)],
        "id long, g string, value double",
    )
    rows = stats.mad_outliers(df, "value", ["g"], z=3.5).collect()
    assert [r["id"] for r in rows] == [6]
    assert rows[0]["group_median"] == 10.0


def test_mad_outliers_null_group_key_participates(spark):
    from python_dtl_spark.operators import stats

    df = spark.createDataFrame(
        [(0, None, 9.0), (1, None, 10.0), (2, None, 10.5), (3, None, 11.0),
         (4, None, 1000.0), (5, "b", 1.0)],
        "id long, g string, value double",
    )
    rows = stats.mad_outliers(df, "value", ["g"], z=3.5).collect()
    assert [r["id"] for r in rows] == [4]


def test_shuffle_shards_total_deterministic_permutation(spark):
    from python_dtl_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = sampling.shuffle_shards(df, "doc_id", 8, seed="s").collect()
    b = sampling.shuffle_shards(df, "doc_id", 8, seed="s").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # retry-stable
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert sum(len(v) for v in by_shard.values()) == 200
    for shard, poss in by_shard.items():
        assert 0 <= shard < 8
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks
    # a different seed yields a different permutation
    c = sampling.shuffle_shards(df, "doc_id", 8, seed="t").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_shuffle_shards_excludes_null_keys_and_validates(spark):
    import pytest

    from python_dtl_spark.operators import sampling

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    assert sampling.shuffle_shards(df, "doc_id", 4).count() == 1
    with pytest.raises(ValueError, match="n_shards"):
        sampling.shuffle_shards(df, "doc_id", 0)
    fdf = spark.createDataFrame([(1.5,)], "doc_id double")
    with pytest.raises(ValueError, match="stable key"):
        sampling.shuffle_shards(fdf, "doc_id", 4)


def test_dimensional_cube_levels_and_sql_avg(spark):
    from python_dtl_spark.operators import rollup

    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 3.0), ("y", "p", 5.0), ("y", "p", None)],
        "a string, b string, v double",
    )
    out = rollup.dimensional_cube(df, ["a", "b"], ["v"])
    rows = {(r["a"], r["b"], r["gid"]): r for r in out.collect()}
    assert len(rows) == 3 + 2 + 2 + 1  # cells + a-rollup + b-rollup + total
    total = rows[(None, None, 3)]
    assert total["n_rows"] == 4
    assert total["sum_v"] == 9.0
    # SQL AVG: NULL v stays out of the denominator (9/3, not 9/4)
    assert total["avg_v"] == 3.0
    ya = rows[("y", None, 1)]  # b rolled up => LSB set for b? (b is last dim)
    assert ya["n_rows"] == 2 and ya["sum_v"] == 5.0 and ya["avg_v"] == 5.0
    xp = rows[("x", "p", 0)]
    assert xp["n_rows"] == 1 and xp["sum_v"] == 1.0


def test_dimensional_cube_requires_dims(spark):
    import pytest

    from python_dtl_spark.operators import rollup

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="dims"):
        rollup.dimensional_cube(df, [], ["v"])


def test_json_extract_fields_rejects_column_collision(spark):
    import pytest

    from python_dtl_spark.operators import semistructured

    df = spark.createDataFrame([(1, '{"id": 2}')], "id long, props string")
    with pytest.raises(ValueError, match="collide"):
        semistructured.json_extract_fields(df, "props", {"id": "bigint"})
    # prefix disambiguates
    out = semistructured.json_extract_fields(
        df, "props", {"id": "bigint"}, prefix="p_"
    )
    assert out.collect()[0]["p_id"] == 2


def test_knn_classify_null_labels_cast_no_vote(spark):
    from python_dtl_spark.operators import similarity

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),
            (1, [0.95, 0.05], None),  # closest neighbor, unlabeled
            (2, [0.9, 0.1], None),
            (3, [0.85, 0.2], 7),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = {r["vec_id"]: r for r in similarity.knn_classify(df, k=3).collect()}
    # query 0's 3 neighbors are 1,2 (NULL) and 3 (7): NULLs cast no
    # vote, so label 7 wins with ONE vote, not NULL with two
    assert out[0]["predicted_label"] == 7 and out[0]["votes"] == 1


def test_json_extract_fields_nested_struct_and_agg(spark):
    """Nested sidecars extract via struct DDL types — the inner fields
    stay addressable as ordinary typed columns."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import semistructured

    df = spark.createDataFrame(
        [
            (1, '{"meta": {"w": 640, "h": 480}, "tags": ["a", "b"]}'),
            (2, '{"meta": {"w": 320}, "tags": []}'),
            (3, '{"tags": ["c"]}'),
        ],
        "id long, props string",
    )
    out = semistructured.json_extract_fields(
        df, "props", {"meta": "struct<w:bigint,h:bigint>", "tags": "array<string>"}
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["meta"]["w"] == 640 and rows[1]["meta"]["h"] == 480
    assert rows[2]["meta"]["w"] == 320 and rows[2]["meta"]["h"] is None
    assert rows[3]["meta"] is None and rows[3]["tags"] == ["c"]
    agg = out.agg(
        F.sum(F.col("meta").getField("w")).alias("w_sum"),
        F.sum(F.size("tags")).alias("n_tags"),
    ).collect()[0]
    assert agg["w_sum"] == 960 and agg["n_tags"] == 3


def test_knn_classify_lsh_rejects_broadcast_guard_hint(spark):
    # num_vectors guards the flat tier's query-set broadcast; the lsh
    # tier never broadcasts, so accepting (and ignoring) the hint would
    # let a caller believe an inert guard is active
    import pytest

    from python_dtl_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0], 1)], "vec_id long, embedding array<double>, label int"
    )
    with pytest.raises(ValueError, match="num_vectors"):
        similarity.knn_classify(df, method="lsh", num_vectors=5, dim=1)


def test_shuffle_shards_rejects_output_column_collision(spark):
    import pytest

    from python_dtl_spark.operators import sampling

    for clash in ("shard", "shard_pos", "__ord"):
        df = spark.createDataFrame([(1, 0)], f"doc_id long, {clash} int")
        with pytest.raises(ValueError, match=clash):
            sampling.shuffle_shards(df, "doc_id", 4)


def test_mad_outliers_persist_matches_unpersisted(spark):
    from python_dtl_spark.operators import stats
    from python_dtl_spark.operators.dedup import release_all_cached

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 2, 1, 3, 2, 500]]
        + [("b", float(v)) for v in [10, 11, 12, 11, 10]],
        "k string, value double",
    )
    plain = {
        (r["k"], r["value"]) for r in stats.mad_outliers(df, "value", ["k"]).collect()
    }
    cached = {
        (r["k"], r["value"])
        for r in stats.mad_outliers(df, "value", ["k"], persist=True).collect()
    }
    release_all_cached(spark)
    assert cached == plain == {("a", 500.0)}


def test_canonicalize_urls_rules(spark):
    from python_dtl_spark.operators import urls

    cases = {
        # scheme+host case, www strip, default https port, trailing /
        "HTTPS://WWW.Ex.COM:443/A/b/": ("https://ex.com/A/b", "ex.com", "ex.com"),
        # default http port, tracking params dropped, real kept in order
        "http://a.ex.com:80/p?utm_source=f&q=1&utm_x=2": (
            "http://a.ex.com/p?q=1",
            "a.ex.com",
            "ex.com",
        ),
        # ccTLD second level, fragment dropped
        "https://blog.site.co.uk/x#frag": (
            "https://blog.site.co.uk/x",
            "blog.site.co.uk",
            "site.co.uk",
        ),
        # real port kept, duplicate slashes collapsed, emptied query
        "http://cdn.ex.com:8080/x//y/?gclid=1": (
            "http://cdn.ex.com:8080/x/y",
            "cdn.ex.com",
            "ex.com",
        ),
        # empty path becomes /
        "https://ex.com": ("https://ex.com/", "ex.com", "ex.com"),
        # non-http(s) scheme and junk both null out
        "mailto:a@b.com": (None, None, None),
        "not a url": (None, None, None),
        # single-label host: registrable domain is the host itself
        "http://localhost:9200/idx": (
            "http://localhost:9200/idx",
            "localhost",
            "localhost",
        ),
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = {
        r["url"]: (r["canonical_url"], r["host"], r["registrable_domain"])
        for r in urls.canonicalize_urls(df, "url").collect()
    }
    for u, exp in cases.items():
        assert out[u] == exp, (u, out[u], exp)


def test_canonicalize_urls_keeps_www_and_rejects_collisions(spark):
    import pytest

    from python_dtl_spark.operators import urls

    df = spark.createDataFrame([("https://www.ex.com/a",)], "url string")
    r = urls.canonicalize_urls(df, "url", strip_www=False).collect()[0]
    assert r["host"] == "www.ex.com" and r["canonical_url"] == "https://www.ex.com/a"
    bad = spark.createDataFrame([("u", "h")], "url string, host string")
    with pytest.raises(ValueError, match="host"):
        urls.canonicalize_urls(bad, "url")


def test_canonicalize_urls_strips_userinfo(spark):
    """try_parse_url HOST excludes userinfo; ports still resolve from
    the full authority — the oracle replays the same strip."""
    from python_dtl_spark.operators import urls

    df = spark.createDataFrame(
        [(0, "https://alice@Example.com/x"), (1, "https://bob:pw@ex.co.uk:8443/y")],
        "doc_id long, url string",
    )
    out = {r.doc_id: r for r in urls.canonicalize_urls(df, "url").collect()}
    assert out[0].canonical_url == "https://example.com/x"
    assert out[0].host == "example.com"
    assert out[1].canonical_url == "https://ex.co.uk:8443/y"
    assert out[1].registrable_domain == "ex.co.uk"


def test_registrable_domains_psl_full_algorithm(spark):
    """PSL-exact tier: longest prevailing rule over the checked-in
    snapshot — multi-label entries (co.uk, com.au, private-section
    github.io), wildcard (*.ck), exception (!www.ck), the implicit '*'
    default for unknown TLDs, and NULL when the host IS a suffix."""
    from python_dtl_spark.operators import urls

    cases = {
        "a.b.example.co.uk": "example.co.uk",
        "shop.example.com.au": "example.com.au",
        "proj.github.io": "proj.github.io",  # approx tier says github.io
        "github.io": None,  # the host IS a public suffix
        "foo.bar.ck": "foo.bar.ck",  # *.ck: bar.ck is a suffix
        "www.ck": "www.ck",  # !www.ck exempts it from *.ck
        "x.www.ck": "www.ck",  # exception prevails over wildcard
        "deep.sub.nosuchtld": "sub.nosuchtld",  # implicit '*' default
        "nosuchtld": None,
        "example.de": "example.de",
        # hosts are case-insensitive: raw-crawl casing must still hit
        # the lowercased rule keys and emit a lowercase capping key
        "WWW.Example.CO.UK": "example.co.uk",
        "shop.example.COM.AU": "example.com.au",
        None: None,
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    out = {r["host"]: r["psl_domain"] for r in
           urls.registrable_domains_psl(df).collect()}
    assert out == cases


def test_registrable_domains_psl_guards(spark):
    import pytest

    from python_dtl_spark.operators import urls

    df = spark.createDataFrame([("ex.com", "x")], "host string, psl_domain string")
    with pytest.raises(ValueError, match="psl_domain"):
        urls.registrable_domains_psl(df)
    # custom rules path: a plain rule plus the implicit default
    ok = spark.createDataFrame([("a.b.custom",), ("x.y",)], "host string")
    out = {r["host"]: r["psl_domain"] for r in
           urls.registrable_domains_psl(
               ok, rules=[("b.custom", "plain", 2)]).collect()}
    assert out == {"a.b.custom": "a.b.custom", "x.y": "x.y"}


def test_canonicalize_urls_idn_scope_is_byte_level(spark):
    """The documented IDN decision: hosts are lowercased bytes, never
    punycode-normalized — a raw-unicode host and its IDNA encoding are
    DISTINCT capping keys (crawlers emit the wire form; folding needs
    the full UTS-46 table, and a partial one would be silently wrong).
    This test pins the decision; changing it must change the docs."""
    from python_dtl_spark.operators import urls

    df = spark.createDataFrame(
        [
            (0, "https://münchen.de/a"),
            (1, "https://xn--mnchen-3ya.de/a"),
            (2, "https://MÜNCHEN.de/a"),
        ],
        ["doc_id", "url"],
    )
    out = {r.doc_id: r for r in urls.canonicalize_urls(df).collect()}
    # unicode host survives as lowercased unicode, punycode as punycode
    assert out[1].host == "xn--mnchen-3ya.de"
    assert out[1].registrable_domain == "xn--mnchen-3ya.de"
    if out[0].host is not None:  # parser-dependent: if it parses, it
        # must stay byte-level — never folded into the punycode form
        assert out[0].host != out[1].host
        assert out[0].registrable_domain != out[1].registrable_domain
        # lowercasing applies to unicode hosts like any other
        assert out[2].host == out[0].host


def test_load_psl_snapshot_cuts_rules_at_whitespace(tmp_path):
    """The publicsuffix.org format defines a rule as everything up to
    the first whitespace — upstream lines can carry trailing text, and
    a full-list snapshot must stay a drop-in data swap."""
    from python_dtl_spark.operators import urls

    p = tmp_path / "psl.dat"
    p.write_text(
        "// comment\n"
        "com\n"
        "uk  some trailing annotation\n"
        "*.ck\t(tab separated note)\n"
        "!www.ck extra\n"
    )
    rules = urls.load_psl_snapshot(p)
    assert ("com", "plain", 1) in rules
    assert ("uk", "plain", 1) in rules
    assert ("ck", "wildcard", 1) in rules
    assert ("www.ck", "exception", 2) in rules


def test_nb_fit_sufficient_statistics_are_exact_counts(spark):
    from python_dtl_spark.operators import classify

    df = spark.createDataFrame(
        [
            (0, "buy cheap buy", "spam"),
            (1, "cheap pills", "spam"),
            (2, "meeting notes", "ham"),
            (3, "notes for the meeting notes", "ham"),
            (4, "unlabeled text", None),  # excluded from the fit
        ],
        ["doc_id", "text", "label"],
    )
    tc, cs = classify.nb_fit(df, "label")
    counts = {(r.token, r.label): r.freq for r in tc.collect()}
    assert counts[("buy", "spam")] == 2
    assert counts[("cheap", "spam")] == 2
    assert counts[("notes", "ham")] == 3
    assert ("unlabeled", "spam") not in counts
    assert ("unlabeled", "ham") not in counts
    stats = {r.label: (r.n_docs, r.n_tokens) for r in cs.collect()}
    assert stats["spam"] == (2, 5) and stats["ham"] == (2, 7)
    # min_count / max_vocab prune by CORPUS frequency, rank (freq DESC,
    # token ASC)
    tc2, _ = classify.nb_fit(df, "label", min_count=2)
    assert {r.token for r in tc2.collect()} == {"buy", "cheap", "notes", "meeting"}
    tc3, _ = classify.nb_fit(df, "label", max_vocab=1)
    assert {r.token for r in tc3.collect()} == {"notes"}  # freq 3 wins


def test_nb_apply_recovers_planted_classes(spark):
    from python_dtl_spark.operators import classify

    train = spark.createDataFrame(
        [
            (0, "buy cheap buy pills", "spam"),
            (1, "cheap pills now", "spam"),
            (2, "meeting notes agenda", "ham"),
            (3, "agenda for the meeting", "ham"),
        ],
        ["doc_id", "text", "label"],
    )
    tc, cs = classify.nb_fit(train, "label")
    new = spark.createDataFrame(
        [
            (10, "cheap pills"),
            (11, "meeting agenda"),
            (12, "zzz qqq vvv"),  # all OOV -> priors decide
            (13, ""),  # empty -> priors decide
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in classify.nb_apply(new, tc, cs, id_col="doc_id").collect()
    }
    assert out[10].predicted_label == "spam"
    assert out[11].predicted_label == "ham"
    # equal priors (2 docs each): OOV terms differ only via class token
    # totals; tie-break and priors must be deterministic — assert the
    # label is one of the classes and scores are finite
    import math as m

    for d in (12, 13):
        assert out[d].predicted_label in ("spam", "ham")
        assert m.isfinite(out[d].log_score)
    # empty doc scores = prior + 0 contributions; equal priors tie ->
    # smallest label wins (deterministic tie-break)
    assert out[13].predicted_label == "ham"
    # input columns survive untouched, outputs appended
    assert set(out[10].asDict()) == {"doc_id", "text", "predicted_label", "log_score"}
    # collision guard
    clash = new.withColumn("predicted_label", F.lit("x"))
    with pytest.raises(ValueError, match="predicted_label"):
        classify.nb_apply(clash, tc, cs)
    with pytest.raises(ValueError, match="alpha"):
        classify.nb_apply(new, tc, cs, alpha=0.0)


def test_nb_apply_matches_bruteforce_reference(spark):
    """Spark NB scores vs a literal Python reference on a small corpus:
    identical argmax labels and log scores to 1e-9."""
    import math as m

    from python_dtl_spark.operators import classify

    train_rows = [
        (0, "a a b", "x"),
        (1, "a b b c", "x"),
        (2, "c c d", "y"),
        (3, "d d a", "y"),
        (4, "e e", "y"),
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text", "label"])
    tc, cs = classify.nb_fit(train, "label")
    test_rows = [(10, "a b"), (11, "c d d"), (12, "a zzz e"), (13, "")]
    test = spark.createDataFrame(test_rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in classify.nb_apply(test, tc, cs, alpha=1.0).collect()
    }

    # literal reference
    from collections import Counter, defaultdict

    freq = defaultdict(Counter)
    ndocs = Counter()
    for _, text, lbl in train_rows:
        ndocs[lbl] += 1
        freq[lbl].update(text.split())
    vocab = {t for c in freq.values() for t in c}
    V = len(vocab)
    ntok = {c: sum(freq[c].values()) for c in freq}

    def score(text, c):
        s = m.log(ndocs[c])
        for t in text.split():
            f = freq[c][t] if t in vocab else 0
            s += m.log((f + 1.0) / (ntok[c] + 1.0 * (V + 1)))
        return s

    for doc_id, text in test_rows:
        best = min(
            ((-score(text, c), c) for c in sorted(freq)),
        )
        assert out[doc_id].predicted_label == best[1], (doc_id, text)
        assert abs(out[doc_id].log_score - (-best[0])) < 1e-9


def test_nb_fit_sample_valve(spark):
    from python_dtl_spark.operators import classify

    rows = [(i, "a a b" if i % 2 == 0 else "c c d",
             "x" if i % 2 == 0 else "y") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    tc, cs = classify.nb_fit(df, "label", sample_fraction=0.5)
    stats = {r.label: r.n_docs for r in cs.collect()}
    # sampled fit sees a strict subset of each class
    assert 0 < stats["x"] < 20 and 0 < stats["y"] < 20
    out = classify.nb_apply(
        spark.createDataFrame([(100, "a b a")], ["doc_id", "text"]), tc, cs
    ).collect()
    assert out[0].predicted_label == "x"
    with pytest.raises(ValueError, match="sample_fraction"):
        classify.nb_fit(df, "label", sample_fraction=2.0)


def test_nb_language_matches_duckdb_replay(spark):
    """The STAGED r12 catalog oracle, validated ahead of registration:
    DuckDB re-derives the whole NB pipeline independently — the
    md5-hash fit sample, the per-class token counts, the
    (freq DESC, token ASC) vocabulary prune, per-document log scores
    and the (score DESC, label ASC) argmax — and the predicted labels
    must match Spark's exactly.  Output is argmax-only (no float
    columns): measured min top-2 score gap on this data is ~5e-4 in
    log space, five orders above cross-engine libm drift, so the
    argmax is engine-stable."""
    import duckdb

    from python_dtl_spark.operators import classify

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tc, cs = classify.nb_fit(
        docs, "lang", sample_fraction=0.5, sample_seed="nb-l",
        min_count=1, max_vocab=200,
    )
    got = {
        r.doc_id: r.predicted_label
        for r in classify.nb_apply(docs, tc, cs, alpha=1.0)
        .select("doc_id", "predicted_label")
        .collect()
    }

    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    sample = (
        "(('0x' || substr(md5('nb-l' || CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 10000) < 5000"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    oracle = con.execute(f"""
    WITH labeled AS (
        SELECT doc_id, lang AS label, {toks} AS t
        FROM documents WHERE lang IS NOT NULL AND {sample}
    ), tokc AS (
        SELECT token, label, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT label, unnest(t) AS token FROM labeled)
        GROUP BY token, label
    ), vocab AS (
        SELECT token FROM (
            SELECT token,
                   row_number() OVER (ORDER BY sum(freq) DESC, token) AS rn
            FROM tokc GROUP BY token HAVING sum(freq) >= 1
        ) WHERE rn <= 200
    ), tc AS (SELECT tokc.* FROM tokc JOIN vocab USING (token)),
    cstat AS (
        SELECT d.label, d.n_docs, coalesce(s.n_tokens, 0) AS n_tokens
        FROM (SELECT lang AS label, count(*) AS n_docs FROM documents
              WHERE lang IS NOT NULL AND {sample} GROUP BY lang) d
        LEFT JOIN (SELECT label, sum(freq) AS n_tokens FROM tc
                   GROUP BY label) s USING (label)
    ), vsz AS (SELECT count(DISTINCT token) AS V FROM tc),
    alltoks AS (
        SELECT doc_id, unnest({toks}) AS token FROM documents
    ), scored AS (
        SELECT a.doc_id, c.label,
               sum(ln((coalesce(tc.freq, 0) + 1.0) /
                      (c.n_tokens + 1.0 * (v.V + 1)))) AS s
        FROM alltoks a
        CROSS JOIN cstat c
        CROSS JOIN vsz v
        LEFT JOIN tc ON tc.token = a.token AND tc.label = c.label
        GROUP BY a.doc_id, c.label
    ), final AS (
        SELECT d.doc_id, c.label,
               coalesce(s.s, 0.0) + ln(c.n_docs) AS score
        FROM (SELECT doc_id FROM documents) d
        CROSS JOIN cstat c
        LEFT JOIN scored s ON s.doc_id = d.doc_id AND s.label = c.label
    )
    SELECT doc_id, label AS predicted_label FROM (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, label) AS rn
        FROM final
    ) WHERE rn = 1
    """).fetchall()
    want = dict(oracle)
    assert got == want
    assert len(got) == docs.count()


def test_target_mix_resample_exact_proportions(spark):
    from python_dtl_spark.operators import sampling

    rows = (
        [(i, "a") for i in range(10)]
        + [(100 + i, "b") for i in range(25)]
        + [(200 + i, "c") for i in range(7)]
        + [(300, None), (None, "a")]  # NULL stratum / key excluded
    )
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = sampling.target_mix_resample(
        df, "src", "doc_id", {"a": 2, "b": 5, "c": 1}
    )
    got = out.groupBy("src").count().collect()
    counts = {r.src: r["count"] for r in got}
    # K = min(10//2, 25//5, 7//1) = 5 -> exact 2:5:1 proportions x5
    assert counts == {"a": 10, "b": 25, "c": 5}
    # pure function of (key, seed, weights): reruns identical
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id
        for r in sampling.target_mix_resample(
            df, "src", "doc_id", {"a": 2, "b": 5, "c": 1}
        ).collect()
    )
    assert ids1 == ids2
    # unweighted strata are dropped entirely
    out2 = sampling.target_mix_resample(df, "src", "doc_id", {"a": 1})
    assert {r.src for r in out2.select("src").distinct().collect()} == {"a"}
    with pytest.raises(ValueError, match="absent from the data"):
        sampling.target_mix_resample(df, "src", "doc_id", {"a": 1, "zz": 1})
    with pytest.raises(ValueError, match="positive integers"):
        sampling.target_mix_resample(df, "src", "doc_id", {"a": 0})
    with pytest.raises(ValueError, match="positive integers"):
        sampling.target_mix_resample(df, "src", "doc_id", {"a": 1.5})
    with pytest.raises(ValueError, match="non-empty"):
        sampling.target_mix_resample(df, "src", "doc_id", {})


def test_target_mix_resample_matches_duckdb_replay(spark):
    """The STAGED r12 oracle for target_mix_resample, validated ahead
    of registration: DuckDB re-derives the stratum counts, the exact
    integer K = min(floor(n_s / w_s)), the per-stratum quotas and the
    md5-rank selection — kept (doc_id, source) sets must match
    exactly."""
    import duckdb

    from python_dtl_spark.operators import sampling

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"src1": 3, "src2": 2, "src3": 1}
    srcs = {r.source for r in docs.select("source").distinct().collect()}
    assert set(weights) <= srcs, f"fixture sources changed: {srcs}"
    out = sampling.target_mix_resample(
        docs, "source", "doc_id", weights, seed="m1"
    )
    got = {(r.doc_id, r.source) for r in out.select("doc_id", "source").collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = set(
        con.execute("""
        WITH w(source, wt) AS (VALUES ('src1', 3), ('src2', 2), ('src3', 1)),
        n AS (
            SELECT d.source, count(*) AS n, any_value(w.wt) AS wt
            FROM documents d JOIN w USING (source)
            WHERE d.doc_id IS NOT NULL
            GROUP BY d.source
        ), k AS (SELECT min(n // wt) AS k FROM n),
        q AS (SELECT source, wt * (SELECT k FROM k) AS quota FROM n)
        SELECT doc_id, source FROM (
            SELECT d.doc_id, d.source, q.quota,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY md5('m1' || CAST(d.doc_id AS VARCHAR)),
                                d.doc_id
                   ) AS rn
            FROM documents d JOIN q USING (source)
            WHERE d.doc_id IS NOT NULL
        ) WHERE rn <= quota
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_nb_tokens_col_composes_with_bpe_encode(spark):
    """The classifier composes with the tokenizer stack: fit and apply
    over bpe_encode output via tokens_col (no re-split — merged tokens
    are classifier features; no lowercasing)."""
    from python_dtl_spark.operators import classify, text

    train = spark.createDataFrame(
        [
            (0, "t h t h buy", "spam"),
            (1, "t h cheap", "spam"),
            (2, "t h meeting", "ham"),
            (3, "t h notes notes", "ham"),
        ],
        ["doc_id", "text", "label"],
    )
    enc = text.bpe_encode(train, [("t", "h")], out_col="toks")
    tc, cs = classify.nb_fit(enc, "label", tokens_col="toks")
    counts = {(r.token, r.label): r.freq for r in tc.collect()}
    # the MERGED token is a feature; its halves are not
    assert counts[("t h", "spam")] == 3 and counts[("t h", "ham")] == 2
    assert not any(t in ("t", "h") for t, _ in counts)
    new = text.bpe_encode(
        spark.createDataFrame([(10, "t h cheap"), (11, "t h notes")],
                              ["doc_id", "text"]),
        [("t", "h")],
        out_col="toks",
    )
    out = {
        r.doc_id: r.predicted_label
        for r in classify.nb_apply(new, tc, cs, tokens_col="toks").collect()
    }
    assert out == {10: "spam", 11: "ham"}


def test_nb_apply_hostile_label_values(spark):
    """Pivot model columns are addressed positionally (advisor r12):
    a label containing a backtick and a label literally named 'token'
    must classify correctly — previously both broke the by-name
    column references built from raw label text."""
    from python_dtl_spark.operators import classify

    train = spark.createDataFrame(
        [
            (0, "a a b", "we`ird"),
            (1, "a b a", "we`ird"),
            (2, "c c d", "token"),
            (3, "d c c", "token"),
        ],
        ["doc_id", "text", "label"],
    )
    tc, cs = classify.nb_fit(train, "label")
    test = spark.createDataFrame([(10, "a a"), (11, "c d")], ["doc_id", "text"])
    out = {
        r.doc_id: r.predicted_label
        for r in classify.nb_apply(test, tc, cs).collect()
    }
    assert out == {10: "we`ird", 11: "token"}


def test_target_mix_resample_typed_strata_and_quoted_names(spark):
    """Model tables derive the stratum type from the input schema and
    join through an internal column (advisor r12): integer strata and
    column names needing quoting both work — previously the DDL-string
    schema hardcoded `string` and interpolated the raw column name."""
    from python_dtl_spark.operators import sampling

    # integer-coded strata
    rows = [(i, 1) for i in range(8)] + [(100 + i, 2) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, domain_code int")
    out = sampling.target_mix_resample(
        df, "domain_code", "doc_id", {1: 2, 2: 1}
    )
    counts = {r.domain_code: r["count"] for r in out.groupBy("domain_code").count().collect()}
    # K = min(8//2, 4//1) = 4 -> 8:4
    assert counts == {1: 8, 2: 4}
    assert dict(out.dtypes)["domain_code"] == "int"
    # a stratum column whose name needs quoting (dot inside the name)
    df2 = spark.createDataFrame(
        [(i, "a") for i in range(4)] + [(10 + i, "b") for i in range(2)],
        "doc_id long, `src.name` string",
    )
    out2 = sampling.target_mix_resample(
        df2, "src.name", "doc_id", {"a": 1, "b": 1}
    )
    got = {r["src.name"] for r in out2.collect()}
    assert got == {"a", "b"} and out2.count() == 4
    with pytest.raises(ValueError, match="strata column"):
        sampling.target_mix_resample(df2, "nope", "doc_id", {"a": 1})


def test_target_mix_precap_same_seed_is_exact_identity(spark):
    """The 100 TB hot-stratum recipe is executable, not prose
    (r11 verdict watch item): precap_quota applies a SAME-SEED
    domain_quota first, and whenever the quota clears every stratum's
    w_s x K the result is IDENTICAL to the un-capped mix — the mix
    takes a prefix of the same per-stratum md5 order, and the binding
    stratum's floor(n_b/w_b) survives the cap, so K is unchanged."""
    from python_dtl_spark.operators import sampling

    rows = (
        [(i, "hot") for i in range(60)]       # the mega-stratum
        + [(1000 + i, "mid") for i in range(20)]
        + [(2000 + i, "rare") for i in range(7)]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string")
    weights = {"hot": 3, "mid": 2, "rare": 1}
    # K = min(60//3, 20//2, 7//1) = 7 -> quotas hot 21, mid 14, rare 7
    plain = sampling.target_mix_resample(df, "src", "doc_id", weights, seed="hs")
    capped = sampling.target_mix_resample(
        df, "src", "doc_id", weights, seed="hs", precap_quota=21
    )
    got_plain = sorted((r.doc_id, r.src) for r in plain.collect())
    got_capped = sorted((r.doc_id, r.src) for r in capped.collect())
    assert got_plain == got_capped and len(got_plain) == 42
    # a quota BELOW a stratum's w_s x K lowers K through the capped
    # counts but the output stays an exact maximal mixture
    tight = sampling.target_mix_resample(
        df, "src", "doc_id", weights, seed="hs", precap_quota=6
    )
    counts = {r.src: r["count"] for r in tight.groupBy("src").count().collect()}
    # capped counts: hot 6, mid 6, rare 6 -> K = min(2, 3, 6) = 2
    assert counts == {"hot": 6, "mid": 4, "rare": 2}
    # and the tight pre-capped selection is a prefix-consistent subset
    assert set(r for r in counts) == {"hot", "mid", "rare"}


def test_nb_apply_row_local_matches_join_path(spark):
    """row_local=True (plan-literal model, the streaming tier) must
    produce exactly the join path's output — same labels, same scores
    — including empty docs (priors only) and OOV-heavy docs; and the
    literal-cell cap raises loudly."""
    from python_dtl_spark.operators import classify

    train = spark.createDataFrame(
        [
            (0, "a a b", "x"),
            (1, "a b b c", "x"),
            (2, "c c d", "y"),
            (3, "d d a", "y"),
            (4, "e e", "y"),
        ],
        ["doc_id", "text", "label"],
    )
    tc, cs = classify.nb_fit(train, "label")
    test = spark.createDataFrame(
        [(10, "a b"), (11, "c d d"), (12, "zz qq"), (13, "")],
        ["doc_id", "text"],
    )
    joined = {
        r.doc_id: (r.predicted_label, r.log_score)
        for r in classify.nb_apply(test, tc, cs).collect()
    }
    local = {
        r.doc_id: (r.predicted_label, r.log_score)
        for r in classify.nb_apply(test, tc, cs, row_local=True).collect()
    }
    assert set(joined) == set(local)
    for k in joined:
        assert joined[k][0] == local[k][0], k
        assert abs(joined[k][1] - local[k][1]) < 1e-9, k
    with pytest.raises(ValueError, match="literal cells"):
        classify.nb_apply(test, tc, cs, row_local=True, max_literal_cells=3)


def test_bpe_encode_broadcast_tier_fixture_and_null_handling(spark):
    """The >max_literal_entries tier on the real fixture corpus: same
    output as the fold (incl. NULL text -> NULL tokens, empty text ->
    empty array) through both the text_col and the pre-tokenized
    tokens_col entry points; the plan is a single ArrowEvalPython-free
    mapInPandas stage (no shuffle)."""
    from python_dtl_spark.operators import text as text_ops

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).unionByName(
        spark.createDataFrame(
            [(990001, None), (990002, ""), (990003, "   ")],
            "doc_id long, text string",
        ).withColumn("lang", F.lit(None).cast("string"))
        .withColumn("source", F.lit(None).cast("string"))
        .withColumn("n_chars", F.lit(None).cast("long"))
    )
    _, merges = text_ops.bpe_fit(docs, n_merges=3, min_count=2)
    fold = {
        r.doc_id: r.tokens_bpe
        for r in text_ops.bpe_encode(docs, merges)
        .select("doc_id", "tokens_bpe")
        .collect()
    }
    bcast_df = text_ops.bpe_encode(docs, merges, max_literal_entries=0)
    bcast = {
        r.doc_id: r.tokens_bpe
        for r in bcast_df.select("doc_id", "tokens_bpe").collect()
    }
    assert bcast == fold
    assert bcast[990001] is None and bcast[990002] == []
    # tokens_col entry point (engine-exact tokenization handoff)
    pre = docs.withColumn(
        "toks", text_ops.tokens(F.lower(F.col("text")))
    )
    via_col = {
        r.doc_id: r.tokens_bpe
        for r in text_ops.bpe_encode(
            pre, merges, tokens_col="toks", max_literal_entries=0
        )
        .select("doc_id", "tokens_bpe")
        .collect()
    }
    assert via_col == fold
    plan = bcast_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan


def test_lm_perplexity_matches_brute_force_reference(spark):
    """Bigram LM scoring vs a literal Python reference: per-doc log
    probs (Laplace-smoothed, OOV as the V+1-th pseudo-token), the
    perplexity to 1e-9, and the exact-integer diagnostics that the
    (staged) driver row hashes."""
    import math as m
    from collections import Counter

    from python_dtl_spark.operators import classify

    corpus_rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the cat"),
        (2, "a dog and a cat"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bi, uni = classify.lm_fit(corpus, min_count=1, max_vocab=100)
    test_rows = [
        (10, "the cat sat"),
        (11, "zz the cat"),   # OOV context for transition 1
        (12, "purple zz qq"), # everything unseen
        (13, "single"),       # no transitions -> NULL perplexity
        (14, ""),
    ]
    test = spark.createDataFrame(test_rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in classify.lm_perplexity(test, bi, uni).collect()}

    # literal reference
    unic = Counter()
    bic = Counter()
    for _, t in corpus_rows:
        ws = t.split()
        unic.update(ws)
        bic.update(zip(ws, ws[1:]))
    V = len(unic)
    for did, t in test_rows:
        ws = t.split()
        trans = list(zip(ws, ws[1:]))
        r = out[did]
        assert r.n_trans == len(trans), did
        if not trans:
            assert r.perplexity is None
            assert r.sum_bigram_freq == 0 and r.sum_context_freq == 0
            continue
        ll = 0.0
        sb = sc_ = unseen = oov = 0
        for w1, w2 in trans:
            bf = bic.get((w1, w2), 0) if (w1 in unic and w2 in unic) else 0
            cf = unic.get(w1, 0)
            ll += m.log((bf + 1.0) / (cf + 1.0 * (V + 1)))
            sb += bf
            sc_ += cf
            unseen += bf == 0
            oov += w1 not in unic
        assert r.sum_bigram_freq == sb and r.sum_context_freq == sc_, did
        assert r.n_unseen == unseen and r.n_oov_ctx == oov, did
        assert abs(r.perplexity - m.exp(-ll / len(trans))) < 1e-9, did
    # collision + alpha guards
    with pytest.raises(ValueError, match="alpha"):
        classify.lm_perplexity(test, bi, uni, alpha=0)
    with pytest.raises(ValueError, match="already"):
        classify.lm_perplexity(
            test.withColumn("n_trans", F.lit(1)), bi, uni
        )


def test_lm_fit_sample_valve_and_vocab_prune(spark):
    from python_dtl_spark.operators import classify

    rows = [(i, "aa bb cc " + ("dd " * (i % 3))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bi, uni = classify.lm_fit(df, sample_fraction=0.5, sample_seed="lm-s")
    n_all = spark.createDataFrame(rows, ["doc_id", "text"]).count()
    total_uni = {r.w: r.freq for r in uni.collect()}
    # the sample sees a strict subset of the corpus occurrences
    assert 0 < total_uni["aa"] < n_all
    with pytest.raises(ValueError, match="sample_fraction"):
        classify.lm_fit(df, sample_fraction=0)
    # vocab prune: max_vocab=2 keeps the top-2 by (freq DESC, w ASC)
    # and the bigram table only holds in-vocab pairs
    bi2, uni2 = classify.lm_fit(df, max_vocab=2)
    kept = {r.w for r in uni2.collect()}
    assert len(kept) == 2
    pairs = {(r.w1, r.w2) for r in bi2.collect()}
    assert all(w1 in kept and w2 in kept for w1, w2 in pairs)


def test_lm_perplexity_matches_duckdb_replay(spark):
    """The STAGED r13 catalog oracle, pre-validated before
    registration (the r11->r12 staging pattern): DuckDB re-derives
    the md5-hash fit sample, unigram/bigram counts, the (freq DESC,
    w ASC) vocabulary prune, and every per-document EXACT-INTEGER
    diagnostic (n_trans / n_unseen / n_oov_ctx / sum_bigram_freq /
    sum_context_freq) — the driver-hashable face of the perplexity
    scorer (the float column is covered by the brute-force test;
    a sum of ln() terms is neither order-stable nor libm-portable)."""
    import duckdb

    from python_dtl_spark.operators import classify
    from python_dtl_spark.operators.sampling import hash_bucket_sql

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300,
    )
    got = {
        r.doc_id: (
            r.n_trans, r.n_unseen, r.n_oov_ctx,
            r.sum_bigram_freq, r.sum_context_freq,
        )
        for r in classify.lm_perplexity(docs, bi, uni)
        .select(
            "doc_id", "n_trans", "n_unseen", "n_oov_ctx",
            "sum_bigram_freq", "sum_context_freq",
        )
        .collect()
    }

    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    sample = hash_bucket_sql("doc_id", seed="lm-l") + " < 5000"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    oracle = con.execute(f"""
    WITH fit AS (
        SELECT doc_id, {toks} AS t FROM documents WHERE {sample}
    ), uni_all AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(t) AS w FROM fit) GROUP BY w
    ), vocab AS (
        SELECT w, freq FROM (
            SELECT w, freq,
                   row_number() OVER (ORDER BY freq DESC, w) AS rn
            FROM uni_all WHERE freq >= 1
        ) WHERE rn <= 300
    ), bi_all AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT p['w1'] AS w1, p['w2'] AS w2 FROM (
                SELECT unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                               FOR i IN range(1, len(t))]) AS p
                FROM fit
            )
        ) GROUP BY w1, w2
    ), bi AS (
        SELECT b.* FROM bi_all b
        JOIN vocab x ON b.w1 = x.w
        JOIN vocab y ON b.w2 = y.w
    ), trans AS (
        SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {toks} AS t FROM documents)
        )
    ), scored AS (
        SELECT tr.doc_id,
               count(*) AS n_trans,
               sum(CASE WHEN bi.freq IS NULL THEN 1 ELSE 0 END) AS n_unseen,
               sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS n_oov_ctx,
               sum(coalesce(bi.freq, 0)) AS sum_bigram_freq,
               sum(coalesce(v.freq, 0)) AS sum_context_freq
        FROM trans tr
        LEFT JOIN bi ON bi.w1 = tr.w1 AND bi.w2 = tr.w2
        LEFT JOIN vocab v ON v.w = tr.w1
        GROUP BY tr.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_trans, 0) AS BIGINT),
           CAST(coalesce(s.n_unseen, 0) AS BIGINT),
           CAST(coalesce(s.n_oov_ctx, 0) AS BIGINT),
           CAST(coalesce(s.sum_bigram_freq, 0) AS BIGINT),
           CAST(coalesce(s.sum_context_freq, 0) AS BIGINT)
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN scored s USING (doc_id)
    """).fetchall()
    want = {r[0]: tuple(r[1:]) for r in oracle}
    assert got == want
    assert len(got) == docs.count()


def test_lm_perplexity_separates_fluent_from_gibberish(spark):
    """The operator's purpose, demonstrated: fit on a fluent corpus,
    then every fluent held-out doc must score LOWER perplexity than
    every gibberish doc (the CCNet head/tail split this filter
    implements)."""
    from python_dtl_spark.operators import classify

    fluent = [
        "the cat sat on the mat",
        "the dog sat on the mat",
        "the cat ran to the dog",
        "a dog ran to the mat",
        "the cat and the dog sat",
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fluent)], ["doc_id", "text"]
    )
    bi, uni = classify.lm_fit(corpus)
    test = spark.createDataFrame(
        [
            (100, "the cat sat on the mat", "fluent"),
            (101, "a dog ran to the dog", "fluent"),
            (102, "mat the on sat cat the", "gibberish"),  # reversed
            (103, "zz qq ww ee rr tt", "gibberish"),       # OOV soup
        ],
        ["doc_id", "text", "kind"],
    )
    out = {
        r.doc_id: (r.kind, r.perplexity)
        for r in classify.lm_perplexity(test, bi, uni).collect()
    }
    fluent_ppl = [p for k, p in out.values() if k == "fluent"]
    gib_ppl = [p for k, p in out.values() if k == "gibberish"]
    assert max(fluent_ppl) < min(gib_ppl), out


def test_lm_perplexity_row_local_matches_join_path(spark):
    """row_local=True (plan-literal maps, the streaming tier) must
    produce exactly the join path's output: integer diagnostics
    equal, perplexity to 1e-9, NULL-text and no-transition docs
    identical; the literal-cell cap raises loudly."""
    from python_dtl_spark.operators import classify

    corpus = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the cat"),
            (2, "a dog and a cat"),
        ],
        ["doc_id", "text"],
    )
    bi, uni = classify.lm_fit(corpus)
    test = spark.createDataFrame(
        [
            (10, "the cat sat"),
            (11, "zz the cat"),
            (12, "purple zz qq"),
            (13, "single"),
            (14, ""),
            (15, None),
        ],
        "doc_id long, text string",
    )
    cols = [
        "doc_id", "n_trans", "n_unseen", "n_oov_ctx",
        "sum_bigram_freq", "sum_context_freq", "perplexity",
    ]
    joined = {
        r.doc_id: r
        for r in classify.lm_perplexity(test, bi, uni).select(cols).collect()
    }
    local = {
        r.doc_id: r
        for r in classify.lm_perplexity(test, bi, uni, row_local=True)
        .select(cols)
        .collect()
    }
    assert set(joined) == set(local)
    for k in joined:
        for c in cols[1:-1]:
            assert joined[k][c] == local[k][c], (k, c)
        jp, lp = joined[k]["perplexity"], local[k]["perplexity"]
        assert (jp is None) == (lp is None), k
        if jp is not None:
            assert abs(jp - lp) < 1e-9, k
    with pytest.raises(ValueError, match="literal cells"):
        classify.lm_perplexity(test, bi, uni, row_local=True, max_literal_cells=3)


def test_epoch_upsample_semantics(spark):
    from python_dtl_spark.operators import sampling

    rows = (
        [(i, "wiki") for i in range(4)]
        + [(10 + i, "crawl") for i in range(6)]
        + [(20, "junk"), (21, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = sampling.epoch_upsample(
        df, "src", {"wiki": 3, "crawl": 1, "junk": 0}
    )
    counts = {r.src: r["count"] for r in out.groupBy("src").count().collect()}
    # wiki x3, crawl x1, junk dropped, unlisted (NULL) defaults to 1
    assert counts == {"wiki": 12, "crawl": 6, None: 1}
    # epoch indices are 0..e-1 per row
    eps = sorted(
        r.epoch for r in out.filter(F.col("doc_id") == 0).collect()
    )
    assert eps == [0, 1, 2]
    # schema: input columns + epoch, types preserved
    assert out.columns == ["doc_id", "src", "epoch"]
    # NULL stratum can be given its own epoch count via a None key
    out2 = sampling.epoch_upsample(df, "src", {None: 2, "junk": 1})
    c2 = {r.src: r["count"] for r in out2.groupBy("src").count().collect()}
    assert c2[None] == 2 and c2["junk"] == 1 and c2["wiki"] == 4
    with pytest.raises(ValueError, match="non-negative integers"):
        sampling.epoch_upsample(df, "src", {"wiki": -1})
    with pytest.raises(ValueError, match="non-negative integers"):
        sampling.epoch_upsample(df, "src", {"wiki": 1.5})
    with pytest.raises(ValueError, match="already"):
        sampling.epoch_upsample(
            df.withColumn("epoch", F.lit(0)), "src", {"wiki": 2}
        )
    with pytest.raises(ValueError, match="strata column"):
        sampling.epoch_upsample(df, "nope", {"wiki": 2})


def test_epoch_upsample_matches_duckdb_replay(spark):
    """The STAGED r13 oracle for epoch_upsample, pre-validated before
    registration: DuckDB replays the per-stratum integer replication
    (LEFT JOIN to the epoch map, default 1, zero drops, epoch index
    fan-out) — the kept (doc_id, source, epoch) multiset must match
    exactly."""
    import duckdb

    from python_dtl_spark.operators import sampling

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.epoch_upsample(
        docs, "source", {"src1": 3, "src2": 0, "src3": 2}
    )
    got = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in out.select("doc_id", "source", "epoch").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        con.execute("""
        WITH m(source, e) AS (VALUES ('src1', 3), ('src2', 0), ('src3', 2)),
        j AS (
            SELECT d.doc_id, d.source, coalesce(m.e, 1) AS n
            FROM documents d LEFT JOIN m USING (source)
        )
        SELECT doc_id, source,
               CAST(unnest([i FOR i IN range(0, n)]) AS BIGINT) AS epoch
        FROM j WHERE n > 0
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_lm_fit_tokens_col_composes_with_bpe_encode(spark):
    """The LM composes with the tokenizer stack via tokens_col (the
    nb_fit contract): merged BPE tokens are LM units — their bigrams
    are transitions; the raw halves never appear in the model."""
    from python_dtl_spark.operators import classify, text

    corpus = spark.createDataFrame(
        [(0, "t h e end"), (1, "t h e start"), (2, "t h run")],
        ["doc_id", "text"],
    )
    enc = text.bpe_encode(corpus, [("t", "h")], out_col="toks")
    bi, uni = classify.lm_fit(enc, tokens_col="toks")
    unis = {r.w for r in uni.collect()}
    assert "t h" in unis and "t" not in unis and "h" not in unis
    pairs = {(r.w1, r.w2): r.freq for r in bi.collect()}
    assert pairs[("t h", "e")] == 2
    new = text.bpe_encode(
        spark.createDataFrame([(10, "t h e run")], ["doc_id", "text"]),
        [("t", "h")],
        out_col="toks",
    )
    out = classify.lm_perplexity(new, bi, uni, tokens_col="toks").collect()[0]
    # transitions: ("t h","e") seen, ("e","run") unseen
    assert out.n_trans == 2 and out.n_unseen == 1


def test_epoch_upsample_composes_with_shuffle_shards(spark):
    """The docstring's downstream recipe, executed: epoch replicas get
    a composite (doc_id, epoch) key and shuffle_shards spreads them
    deterministically — replicas of one document are independent rows
    in the training emission, and a re-run lands every row in the
    same shard/position."""
    from python_dtl_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "wiki" if i % 2 == 0 else "crawl") for i in range(30)],
        "doc_id long, src string",
    )
    up = sampling.epoch_upsample(docs, "src", {"wiki": 3, "crawl": 1})
    keyed = up.withColumn(
        "k", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    sharded = sampling.shuffle_shards(keyed, "k", n_shards=4, seed="ep")
    rows = sharded.collect()
    assert len(rows) == 15 * 3 + 15
    # every (doc_id, epoch) combination is a distinct emission row
    assert len({(r.doc_id, r.epoch) for r in rows}) == len(rows)
    # deterministic: identical shard/position on a re-run
    again = {
        (r.doc_id, r.epoch): (r.shard, r.shard_pos)
        for r in sampling.shuffle_shards(
            keyed, "k", n_shards=4, seed="ep"
        ).collect()
    }
    first = {(r.doc_id, r.epoch): (r.shard, r.shard_pos) for r in rows}
    assert first == again
    # replicas of one doc are not glued to one shard
    shards_of_doc0 = {r.shard for r in rows if r.doc_id == 0}
    assert len(shards_of_doc0) > 1


def test_bpe_encode_broadcast_tier_tokenizes_jvm_side(spark):
    """Advisor r12: the big-table tier must tokenize with the SAME JVM
    expression as the fold tier.  Non-ASCII case mapping is where a
    Python str.lower() mirror can diverge (e.g. 'İ' lowercases to
    'i̇' — i + combining dot — in Python but the tiers must agree
    whatever the mapping is), so assert tier equality on a non-ASCII
    fixture and that no Python-side tokenization remains."""
    import inspect

    docs = spark.createDataFrame(
        [
            (0, "İstanbul STRAßE İstanbul STRAßE"),
            (1, "ΣΊΣΥΦΟΣ σίσυφος ΣΊΣΥΦΟΣ"),
            (2, "the cat the cat"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    _, merges = text.bpe_fit(
        docs.where(F.col("text").isNotNull()), n_merges=2, min_count=2
    )
    fold = {
        r.doc_id: r.tokens_bpe
        for r in text.bpe_encode(docs, merges)
        .select("doc_id", "tokens_bpe")
        .collect()
    }
    bcast = {
        r.doc_id: r.tokens_bpe
        for r in text.bpe_encode(docs, merges, max_literal_entries=0)
        .select("doc_id", "tokens_bpe")
        .collect()
    }
    assert bcast == fold
    # the temporary JVM token column is dropped from the output
    out_cols = text.bpe_encode(docs, merges, max_literal_entries=0).columns
    assert out_cols == docs.columns + ["tokens_bpe"]
    # and a caller's own __bpe_toks column survives untouched
    with_clash = docs.withColumn("__bpe_toks", F.lit("keep"))
    clash_out = text.bpe_encode(with_clash, merges, max_literal_entries=0)
    assert "__bpe_toks" in clash_out.columns
    assert clash_out.where(F.col("__bpe_toks") != "keep").count() == 0
    # out_col may even BE the temp name (review r13: the uniquify loop
    # must dodge out_col too, or the sink schema gets duplicate fields)
    as_out = {
        r["doc_id"]: r["__bpe_toks"]
        for r in text.bpe_encode(
            docs, merges, out_col="__bpe_toks", max_literal_entries=0
        )
        .select("doc_id", "__bpe_toks")
        .collect()
    }
    assert as_out == fold
    # no Python-side regex tokenization remains in the tier
    src = inspect.getsource(text._bpe_encode_broadcast)
    assert "re.compile" not in src


def test_internal_column_collision_guards(spark):
    """Advisor r12: operators that thread internal working columns
    (__nb_*, __ll/__lm_id, __ep_*, __mix_*) refuse inputs that already
    carry them with a clear ValueError instead of an ambiguous-
    reference AnalysisException or a silent drop()."""
    from python_dtl_spark.operators import classify, sampling

    docs = spark.createDataFrame(
        [(0, "the cat sat", "wiki"), (1, "a dog ran", "crawl")],
        "doc_id long, text string, src string",
    )
    bi, uni = classify.lm_fit(docs, min_count=1)
    for bad in ("__ll", "__lm_id"):
        with pytest.raises(ValueError, match="internal working column"):
            classify.lm_perplexity(
                docs.withColumn(bad, F.lit(1)), bi, uni
            )
    tc, cs = classify.nb_fit(
        docs.withColumn("label", F.col("src")), label_col="label"
    )
    for bad in ("__nb_id", "__nb_s0", "__nb_c1"):
        with pytest.raises(ValueError, match="__nb_"):
            classify.nb_apply(docs.withColumn(bad, F.lit(1)), tc, cs)
    for bad in ("__ep_stratum", "__ep_n"):
        with pytest.raises(ValueError, match="internal working column"):
            sampling.epoch_upsample(
                docs.withColumn(bad, F.lit(1)), "src", {"wiki": 2}
            )
    for bad in ("__mix_stratum", "__mix_rank", "__mix_quota"):
        with pytest.raises(ValueError, match="internal working column"):
            sampling.target_mix_resample(
                docs.withColumn(bad, F.lit(1)),
                "src",
                "doc_id",
                {"wiki": 1, "crawl": 1},
            )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_lm_curate_threshold_margin_is_wide(spark, sf):
    """pipeline_lm_curate hashes a float-threshold decision (perplexity
    <= 30.0), which is only driver-safe because no document sits near
    the boundary: assert the minimum relative margin |ppl - 30| / 30
    exceeds 1e-6 — still 7 orders above cross-engine libm +
    summation-order drift (~1e-13), the measured-gap argument that
    lets doc_nb_classify hash its argmax.  Also assert the filter is a
    real split (keeps some, drops some).  Parametrized over ALL the
    scales the hash-safety argument rests on — sf0.01 is the driver
    gate, sf0.1 the builder's sweep (advisor r13: a fit/tokenization
    change must not silently shrink the driver-gate margin; measured
    margins 1.2e-4 / 4.1e-4 / 1.9e-5)."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300,
    )
    ppl = [
        r.perplexity
        for r in classify.lm_perplexity(docs, bi, uni)
        .select("perplexity")
        .collect()
        if r.perplexity is not None
    ]
    kept = sum(p <= 30.0 for p in ppl)
    assert 0 < kept < len(ppl), (kept, len(ppl))
    margin = min(abs(p - 30.0) for p in ppl) / 30.0
    assert margin > 1e-6, margin


def test_dsir_fit_split_matches_two_call_fit(spark):
    """r20: dsir_fit_split(df, cond) must produce byte-identical model
    tables to dsir_fit(df.where(cond)) + dsir_fit(df) — including the
    bucket row SET (target buckets exist iff a target doc contributed)
    and NULL-condition docs counting as raw-only."""
    from python_dtl_spark.operators import classify

    rows = [
        (0, "src1", "the cat sat on the mat"),
        (1, "src1", "the cat ran to the mat"),
        (2, "src2", "stock prices fell sharply today"),
        (3, None, "buy cheap pills online now"),
        (4, "src2", "the cat sat on the mat"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    from pyspark.sql import functions as F

    tc0 = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="s1")
    rc0 = classify.dsir_fit(docs, seed="s1")
    tc1, rc1 = classify.dsir_fit_split(
        docs, F.col("source") == "src1", seed="s1"
    )
    assert tc0.dtypes == tc1.dtypes and rc0.dtypes == rc1.dtypes
    assert sorted(map(tuple, tc0.collect())) == sorted(map(tuple, tc1.collect()))
    assert sorted(map(tuple, rc0.collect())) == sorted(map(tuple, rc1.collect()))


def test_dsir_shared_features_match_two_pass(spark):
    """r20: fit + scoring fed one shared dsir_features table must be
    byte-identical to the default two-pass path — model tables, row
    sets, integer diagnostics and the float weight alike (same
    expressions, so the float is bit-equal, not merely close)."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import classify

    rows = [
        (0, "src1", "the cat sat on the mat"),
        (1, "src1", "the cat ran to the mat"),
        (2, "src2", "stock prices fell sharply today"),
        (3, None, "buy cheap pills online now"),
        (4, "src2", "the cat sat on the mat"),
        (5, "src2", ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    cond = F.col("source") == "src1"
    tc0, rc0 = classify.dsir_fit_split(docs, cond, seed="s1")
    w0 = classify.dsir_weights(docs, tc0, rc0, seed="s1")
    feats = classify.dsir_features(docs, cond, seed="s1")
    tc1, rc1 = classify.dsir_fit_split(docs, cond, seed="s1", features=feats)
    w1 = classify.dsir_weights(docs, tc1, rc1, seed="s1", features=feats)
    assert sorted(map(tuple, tc0.collect())) == sorted(map(tuple, tc1.collect()))
    assert sorted(map(tuple, rc0.collect())) == sorted(map(tuple, rc1.collect()))
    assert w0.dtypes == w1.dtypes
    assert sorted(map(tuple, w0.collect())) == sorted(map(tuple, w1.collect()))
    # missing __is_t flag (built without target_cond) is refused loudly
    bare = classify.dsir_features(docs, seed="s1")
    try:
        classify.dsir_fit_split(docs, cond, seed="s1", features=bare)
        raise AssertionError("expected ValueError for missing __is_t")
    except ValueError:
        pass


def test_dsir_weights_construction_launches_no_job(spark):
    """Building the DSIR fit and scoring plans from already-read frames
    runs no Spark job: the model totals are scalar subqueries of the
    scoring plan, not driver-side collects."""
    from python_dtl_spark.operators import classify
    from python_dtl_spark.operators.dedup import release_all_cached

    docs = spark.createDataFrame(
        [(1, "a b c", "t"), (2, "b c d", "r"), (3, "c d e", "r")],
        "doc_id long, text string, source string",
    )
    cond = F.col("source") == "t"
    sc = spark.sparkContext
    sc.setJobGroup("dsir-construction", "no jobs expected")
    try:
        tc = classify.dsir_fit(docs.where(cond))
        rc = classify.dsir_fit(docs)
        plain = classify.dsir_weights(docs, tc, rc)
        feats = classify.dsir_features(docs, cond)
        stc, src = classify.dsir_fit_split(docs, cond, features=feats)
        shared = classify.dsir_weights(docs, stc, src, features=feats)
        jobs = sc.statusTracker().getJobIdsForGroup("dsir-construction")
    finally:
        sc.setJobGroup(None, None)
    try:
        assert list(jobs) == []
        assert plain.count() == shared.count() == 3
    finally:
        release_all_cached(spark)


def test_dsir_weights_match_bruteforce_reference(spark):
    """DSIR importance weights (Xie et al. 2023) vs a literal Python
    reference: hashed unigram+bigram bucket counts for target and raw,
    per-doc exact-integer diagnostics, and the float log weight to
    1e-9 (staged for an r14 driver row — the integers hash, the float
    stays unit-verified, the lm_perplexity split)."""
    import hashlib
    import math as m
    from collections import Counter

    from python_dtl_spark.operators import classify

    target_rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran to the mat"),
    ]
    raw_rows = [
        (10, "the cat sat on the mat"),
        (11, "stock prices fell sharply today"),
        (12, "buy cheap pills online now"),
    ]
    target = spark.createDataFrame(target_rows, ["doc_id", "text"])
    raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    tc = classify.dsir_fit(target, seed="s1")
    rc = classify.dsir_fit(raw, seed="s1")
    out = {
        r.doc_id: r
        for r in classify.dsir_weights(raw, tc, rc, seed="s1").collect()
    }

    B = 10_000

    def bucket(feat):
        h = hashlib.md5(("s1" + feat).encode()).hexdigest()
        return int(h[:8], 16) % B

    def feats(text):
        ws = text.lower().split()
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    tcnt = Counter(bucket(f) for _, t in target_rows for f in feats(t))
    rcnt = Counter(bucket(f) for _, t in raw_rows for f in feats(t))
    # the fitted tables must equal the reference counts exactly
    assert {(r.bucket, r.freq) for r in tc.collect()} == set(tcnt.items())
    assert {(r.bucket, r.freq) for r in rc.collect()} == set(rcnt.items())
    T, R = sum(tcnt.values()), sum(rcnt.values())
    for did, text in raw_rows:
        fs = feats(text)
        r = out[did]
        assert r.n_feats == len(fs), did
        assert r.sum_target_freq == sum(tcnt.get(bucket(f), 0) for f in fs)
        assert r.sum_raw_freq == sum(rcnt.get(bucket(f), 0) for f in fs)
        assert r.n_unseen_target == sum(bucket(f) not in tcnt for f in fs)
        assert r.n_unseen_raw == sum(bucket(f) not in rcnt for f in fs)
        lw = sum(
            m.log((tcnt.get(bucket(f), 0) + 1.0) / (T + B))
            - m.log((rcnt.get(bucket(f), 0) + 1.0) / (R + B))
            for f in fs
        )
        assert abs(r.log_weight - lw) < 1e-9, did
    # target-like text outweighs off-domain text (the operator's point)
    assert out[10].log_weight > out[11].log_weight
    assert out[10].log_weight > out[12].log_weight
    # guards
    with pytest.raises(ValueError, match="alpha"):
        classify.dsir_weights(raw, tc, rc, alpha=0)
    with pytest.raises(ValueError, match="already"):
        classify.dsir_weights(raw.withColumn("n_feats", F.lit(1)), tc, rc)
    with pytest.raises(ValueError, match="internal working column"):
        classify.dsir_weights(raw.withColumn("__ds_id", F.lit(1)), tc, rc)


def test_dsir_weights_match_duckdb_replay(spark):
    """The staged r14 oracle, pre-validated before registration (the
    r11→r12→r13 staging pattern): DuckDB re-derives the md5 feature
    buckets (hash_bucket recipe), both fitted count tables (target =
    source 'src1' docs, raw = the whole corpus), and every per-doc
    EXACT-INTEGER diagnostic."""
    import duckdb

    from python_dtl_spark.operators import classify

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.where(F.col("source") == "src1")
    tc = classify.dsir_fit(target, seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    got = {
        r.doc_id: (
            r.n_feats, r.sum_target_freq, r.sum_raw_freq,
            r.n_unseen_target, r.n_unseen_raw,
        )
        for r in classify.dsir_weights(docs, tc, rc, seed="ds1")
        .select(
            "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq",
            "n_unseen_target", "n_unseen_raw",
        )
        .collect()
    }

    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    bkt = (
        "(('0x' || substr(md5('ds1' || f), 1, 8))::BIGINT % 10000)"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    feat_cte = f"""
    feats AS (
        SELECT doc_id, unnest(t) AS f
        FROM (SELECT doc_id, {toks} AS t FROM documents)
        UNION ALL
        SELECT doc_id, p['w1'] || ' ' || p['w2'] AS f FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {toks} AS t FROM documents)
        )
    ), fb AS (SELECT doc_id, {bkt} AS bucket FROM feats)
    """
    oracle = con.execute(f"""
    WITH {feat_cte},
    tmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS tf
        FROM fb JOIN documents USING (doc_id)
        WHERE documents.source = 'src1' GROUP BY bucket
    ), rmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS rf
        FROM fb GROUP BY bucket
    ), scored AS (
        SELECT fb.doc_id,
               count(*) AS n_feats,
               sum(coalesce(t.tf, 0)) AS sum_target_freq,
               sum(coalesce(r.rf, 0)) AS sum_raw_freq,
               sum(CASE WHEN t.tf IS NULL THEN 1 ELSE 0 END) AS n_unseen_target,
               sum(CASE WHEN r.rf IS NULL THEN 1 ELSE 0 END) AS n_unseen_raw
        FROM fb
        LEFT JOIN tmodel t USING (bucket)
        LEFT JOIN rmodel r USING (bucket)
        GROUP BY fb.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_feats, 0) AS BIGINT),
           CAST(coalesce(s.sum_target_freq, 0) AS BIGINT),
           CAST(coalesce(s.sum_raw_freq, 0) AS BIGINT),
           CAST(coalesce(s.n_unseen_target, 0) AS BIGINT),
           CAST(coalesce(s.n_unseen_raw, 0) AS BIGINT)
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN scored s USING (doc_id)
    """).fetchall()
    want = {r[0]: tuple(r[1:]) for r in oracle}
    assert got == want
    assert len(got) == docs.count()


def test_dsir_select_rank_recipe_matches_duckdb_replay(spark):
    """The r14 `pipeline_dsir_select` recipe, pre-validated before
    registration: keep the top ceil(0.25·n) documents by
    (log_weight DESC, doc_id ASC) — rank-based because a fixed weight
    threshold does not transfer across corpus sizes (COVERAGE.md r14
    plan; boundary gaps measured ≥5.7e-3, ten orders above drift).
    DuckDB recomputes the weights INDEPENDENTLY (its own ln sums) and
    must select the identical doc set."""
    import duckdb

    from python_dtl_spark.operators import classify

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tc = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    scored = classify.dsir_weights(docs, tc, rc, seed="ds1")
    n = docs.count()
    k = -(-n // 4)  # ceil(0.25 n)
    from fractions import Fraction

    from python_dtl_spark.operators import sampling

    kept = sampling.top_fraction(
        scored, "log_weight", Fraction(1, 4), "doc_id"
    ).select("doc_id")
    got = sorted(r.doc_id for r in kept.collect())
    assert len(got) == k

    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> x <> '')"
    )
    bkt = "(('0x' || substr(md5('ds1' || f), 1, 8))::BIGINT % 10000)"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        r[0]
        for r in con.execute(f"""
    WITH feats AS (
        SELECT doc_id, unnest(t) AS f
        FROM (SELECT doc_id, {toks} AS t FROM documents)
        UNION ALL
        SELECT doc_id, p['w1'] || ' ' || p['w2'] AS f FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {toks} AS t FROM documents))
    ), fb AS (SELECT doc_id, {bkt} AS bucket FROM feats),
    tmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS tf
        FROM fb JOIN documents USING (doc_id)
        WHERE documents.source = 'src1' GROUP BY bucket
    ), rmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS rf
        FROM fb GROUP BY bucket
    ), tot AS (
        SELECT (SELECT sum(tf) FROM tmodel) AS T,
               (SELECT sum(rf) FROM rmodel) AS R
    ), scored AS (
        SELECT fb.doc_id,
               sum(ln((coalesce(t.tf, 0) + 1.0) / (tot.T + 10000.0))
                   - ln((coalesce(r.rf, 0) + 1.0) / (tot.R + 10000.0)))
                   AS lw
        FROM fb CROSS JOIN tot
        LEFT JOIN tmodel t USING (bucket)
        LEFT JOIN rmodel r USING (bucket)
        GROUP BY fb.doc_id
    ), allw AS (
        SELECT d.doc_id, coalesce(s.lw, 0.0) AS lw
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)
    )
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY lw DESC, doc_id) AS r
        FROM allw
    ) WHERE r <= {k}
    """).fetchall()
    )
    assert got == want


def test_stratified_top_fraction_semantics(spark):
    """Per-stratum quality floor: keep ceil(fraction·n_s) top rows of
    each stratum by (score DESC, tie ASC); NULL stratum/score/tie rows
    excluded; guards on bad fraction and internal-column collisions."""
    from python_dtl_spark.operators import sampling

    rows = [
        # (doc_id, src, score): srcA has 5 rows, srcB 2, plus NULLs
        (0, "A", 0.9), (1, "A", 0.8), (2, "A", 0.7), (3, "A", 0.6),
        (4, "A", 0.5),
        (10, "B", 0.4), (11, "B", 0.3),
        (20, None, 0.99), (21, "A", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, s double")
    out = sampling.stratified_top_fraction(df, "src", "s", 0.5, "doc_id")
    got = sorted(r.doc_id for r in out.collect())
    # ceil(5*0.5)=3 of A (0.9, 0.8, 0.7), ceil(2*0.5)=1 of B (0.4)
    assert got == [0, 1, 2, 10]
    # ties break by tie_col ascending
    tie = spark.createDataFrame(
        [(1, "A", 0.5), (2, "A", 0.5), (3, "A", 0.5)],
        "doc_id long, src string, s double",
    )
    kept = sorted(
        r.doc_id
        for r in sampling.stratified_top_fraction(
            tie, "src", "s", 0.34, "doc_id"
        ).collect()
    )
    assert kept == [1, 2]  # ceil(3*0.34) = ceil(1.02) = 2
    with pytest.raises(ValueError, match="fraction"):
        sampling.stratified_top_fraction(df, "src", "s", 0.0, "doc_id")
    with pytest.raises(ValueError, match="internal working column"):
        sampling.stratified_top_fraction(
            df.withColumn("__qf_rank", F.lit(1)), "src", "s", 0.5, "doc_id"
        )


def test_stratified_top_fraction_quota_is_exact_rational(spark):
    """Advisor r13 (medium): the quota must be EXACT integer-ceil
    arithmetic, not IEEE double.  The canonical divergent pair is
    (n=100, fraction=0.55): ceil(100 * 0.55) is 56 under IEEE double
    (0.55 rounds up to 0.55000…0004) but the true ceil(100·11/20) is
    55 — a double-quota engine and a decimal-quota oracle would
    disagree by one row in every affected stratum.  Assert the Spark
    side keeps exactly 55, that DuckDB's DECIMAL-literal ceil agrees,
    and that top_fraction_quota_sql emits the same snapped rational."""
    import duckdb

    from python_dtl_spark.operators import sampling

    n = 100
    df = spark.createDataFrame(
        [(i, "A", float(n - i)) for i in range(n)],
        "doc_id long, src string, s double",
    )
    kept = sampling.stratified_top_fraction(df, "src", "s", 0.55, "doc_id")
    assert kept.count() == 55
    # the IEEE-double quota this guards against:
    import math

    assert math.ceil(n * 0.55) == 56  # the wrong answer, for contrast
    # DuckDB evaluates 0.55 as exact DECIMAL — must agree with Spark now
    ddb = duckdb.connect().execute(
        "SELECT CAST(ceil(100 * 0.55) AS BIGINT), "
        f"CAST({sampling.top_fraction_quota_sql('100', 0.55)} AS BIGINT)"
    ).fetchone()
    assert ddb == (55, 55)
    # a Fraction passes through exactly
    from fractions import Fraction

    kept_frac = sampling.stratified_top_fraction(
        df, "src", "s", Fraction(11, 20), "doc_id"
    )
    assert kept_frac.count() == 55


def test_top_fraction_semantics(spark):
    """Global top-fraction selection (the pipeline_dsir_select verb):
    keep the top ceil(fraction·n) rows of the WHOLE input by
    (score DESC, tie ASC), exact rational quota, NULL score/tie rows
    excluded, and — the scale valve — the approxQuantile prefilter
    must not change the selected set (the output is exact whatever
    the coarse floor returns)."""
    import random

    from fractions import Fraction

    from python_dtl_spark.operators import sampling

    rng = random.Random(42)
    rows = [(i, rng.uniform(-100.0, 100.0)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    # brute-force reference: exact rational ceil(200 * 11/20) = 110
    want = sorted(
        i for i, _ in sorted(rows, key=lambda r: (-r[1], r[0]))[:110]
    )
    got = sorted(
        r.doc_id
        for r in sampling.top_fraction(df, "w", 0.55, "doc_id").collect()
    )
    assert got == want and len(got) == 110
    # prefilter disabled → identical set (exactness is not the valve's)
    got_exact = sorted(
        r.doc_id
        for r in sampling.top_fraction(
            df, "w", 0.55, "doc_id", prefilter_quantile_error=None
        ).collect()
    )
    assert got_exact == got
    # the IEEE-divergent pair again: n=100, 0.55 → 55 kept, never 56
    df100 = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, w double"
    )
    assert sampling.top_fraction(df100, "w", 0.55, "doc_id").count() == 55
    # NULL score/tie rows are excluded and do not count toward n
    withnull = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, None), (None, 9.0)],
        "doc_id long, w double",
    )
    kept = sampling.top_fraction(withnull, "w", Fraction(1, 2), "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1]
    with pytest.raises(ValueError, match="fraction"):
        sampling.top_fraction(df, "w", 1.5, "doc_id")
    with pytest.raises(ValueError, match="internal working column"):
        sampling.top_fraction(
            df.withColumn("__tf_rank", F.lit(1)), "w", 0.5, "doc_id"
        )


def test_top_fraction_threshold_refinement_is_exact(spark):
    """r21 threshold refinement: rows above the high GK cut bypass the
    rank through a plain filter and only the boundary band is ranked —
    the kept SET must stay bit-identical to the unrefined exact rank
    under every boundary shape: unique scores, heavy ties AT the cut
    (t_lo == t_hi collapse), plateau-only scores, and tiny inputs where
    the sketch cuts are degenerate."""
    import random

    from fractions import Fraction

    from python_dtl_spark.operators import sampling

    rng = random.Random(7)

    def _check(rows, frac):
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = sorted(
            r.doc_id
            for r in sampling.top_fraction(df, "w", frac, "doc_id").collect()
        )
        want = sorted(
            r.doc_id
            for r in sampling.top_fraction(
                df, "w", frac, "doc_id", prefilter_quantile_error=None
            ).collect()
        )
        assert got == want, (frac, got[:10], want[:10])
        return got

    # unique scores, several fractions (band refinement fires)
    uniq = [(i, rng.uniform(-5.0, 5.0)) for i in range(500)]
    for frac in (Fraction(1, 4), Fraction(1, 2), Fraction(9, 10)):
        _check(uniq, frac)
    # heavy ties: 10 distinct plateaus of 50 rows — the GK cuts land ON
    # a plateau, t_lo == t_hi, and the tie column decides the boundary
    ties = [(i, float(i % 10)) for i in range(500)]
    for frac in (Fraction(1, 4), Fraction(13, 100)):
        _check(ties, frac)
    # single plateau: every score equal, selection is pure tie order
    _check([(i, 1.0) for i in range(97)], Fraction(1, 3))
    # tiny inputs
    _check([(0, 2.0), (1, 1.0), (2, 3.0)], Fraction(1, 3))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_dsir_select_boundary_gap_is_wide(spark, sf):
    """pipeline_dsir_select hashes a rank-boundary decision on a float
    log-weight (a sum of ln() terms), which is driver-safe only
    because the measured gap w[k] − w[k+1] between the last kept and
    first dropped document clears cross-engine libm + summation-order
    drift (~1e-13) by many orders: assert gap > 1e-6 at every scale
    the driver or the sweep hashes (measured 3.2e-1 / 4.8e-1 / 5.7e-3
    at sf0.001/0.01/0.1 — COVERAGE.md r14 plan).  The rank form exists
    because a FIXED weight threshold measurably does not transfer
    across corpus sizes (log-weight range [-242,-18] at sf0.001 vs
    [-63,-3] at sf0.1)."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    tc = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    weights = sorted(
        (
            r.log_weight
            for r in classify.dsir_weights(docs, tc, rc, seed="ds1")
            .select("log_weight")
            .collect()
        ),
        reverse=True,
    )
    n = len(weights)
    k = -(-n // 4)
    assert 0 < k < n
    gap = weights[k - 1] - weights[k]
    assert gap > 1e-6, (sf, gap)


def test_stratified_top_fraction_matches_duckdb_replay(spark):
    """The staged `pipeline_quality_floor` recipe (keep the best 30%
    of every source by quality_score), pre-validated before any
    registration: quality_score is exact arithmetic over counts —
    integer divisions and exactly-rounded IEEE ops, bit-identical
    across engines — so DuckDB recomputes the score INDEPENDENTLY and
    the per-stratum (score DESC, doc_id) rank must keep the identical
    doc set, NO measured-margin argument needed (unlike the
    lm_curate / dsir float rows)."""
    import duckdb

    from python_dtl_spark.catalog import _QUALITY_SCORE_EXPR, _quality_sql_ctes
    from python_dtl_spark.operators import sampling, text as text_ops

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = text_ops.quality_features(docs)
    kept = sampling.stratified_top_fraction(
        scored, "source", "quality_score", 0.3, "doc_id"
    )
    got = sorted(
        (r.doc_id, r.source)
        for r in kept.select("doc_id", "source").collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(f"""
    WITH {_quality_sql_ctes(passthrough="source")},
    q AS (
        SELECT doc_id, source,
               {_QUALITY_SCORE_EXPR} AS quality_score
        FROM ratios
        WHERE source IS NOT NULL AND doc_id IS NOT NULL
    ), n AS (
        SELECT source,
               CAST({sampling.top_fraction_quota_sql("count(*)", 0.3)}
                    AS BIGINT) AS quota
        FROM q GROUP BY source
    )
    SELECT doc_id, source FROM (
        SELECT q.doc_id, q.source, n.quota,
               row_number() OVER (
                   PARTITION BY q.source
                   ORDER BY q.quality_score DESC, q.doc_id
               ) AS r
        FROM q JOIN n USING (source)
    ) WHERE r <= quota
    """).fetchall()
    )
    assert got == want and len(got) > 0


def test_token_budget_mix_semantics(spark):
    """Per-stratum token-budget sampling (staged r14 for r15): keep
    the md5-rank prefix while the running size total fits the
    stratum's budget; absent strata drop; zero-size rows inside the
    budget fit; NULL key/stratum/size rows excluded; guards on
    non-integral sizes and bad budget maps."""
    from python_dtl_spark.operators import sampling

    rows = [
        (1, "A", 10), (2, "A", 10), (3, "A", 10), (4, "A", 10),
        (10, "B", 100),
        (20, "C", 1),
        (30, None, 1), (None, "A", 1), (31, "A", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    out = sampling.token_budget_mix(
        df, "src", "doc_id", "n", {"A": 25, "B": 50}, seed="tb1"
    )
    got = {r.doc_id for r in out.collect()}
    # A: md5-rank order of {1,2,3,4}; greedy prefix while cumsum <= 25
    # -> exactly 2 rows whatever the order; B: first row is 100 > 50
    # -> empty; C absent from budgets -> dropped; NULLs excluded
    import hashlib

    order_a = sorted(
        [1, 2, 3, 4],
        key=lambda k: (hashlib.md5(f"tb1{k}".encode()).hexdigest(), k),
    )
    assert got == set(order_a[:2]), (got, order_a)
    # zero-size rows always fit inside the budget; budget 0 keeps only
    # zero-size prefix rows
    z = spark.createDataFrame(
        [(1, "A", 0), (2, "A", 0), (3, "A", 5)],
        "doc_id long, src string, n long",
    )
    kept = sampling.token_budget_mix(
        z, "src", "doc_id", "n", {"A": 0}, seed="tb1"
    )
    zgot = sorted(r.doc_id for r in kept.collect())
    order_z = sorted(
        [1, 2, 3],
        key=lambda k: (hashlib.md5(f"tb1{k}".encode()).hexdigest(), k),
    )
    expect = []
    cum = 0
    for k in order_z:
        cum += {1: 0, 2: 0, 3: 5}[k]
        if cum <= 0:
            expect.append(k)
    assert zgot == sorted(expect)
    with pytest.raises(ValueError, match="integral size"):
        sampling.token_budget_mix(
            df.withColumn("f", F.lit(1.5)), "src", "doc_id", "f", {"A": 1}
        )
    with pytest.raises(ValueError, match="non-negative integers"):
        sampling.token_budget_mix(df, "src", "doc_id", "n", {"A": -1})
    with pytest.raises(ValueError, match="internal working column"):
        sampling.token_budget_mix(
            df.withColumn("__tb_cum", F.lit(1)), "src", "doc_id", "n",
            {"A": 1},
        )


def test_token_budget_mix_matches_duckdb_replay(spark):
    """The staged token-budget recipe, pre-validated before any r15
    registration (the staging pattern): DuckDB re-derives the md5
    rank and the exact-integer running sum and must keep the
    identical doc set."""
    import duckdb

    from python_dtl_spark.operators import sampling

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = {"src1": 4000, "src2": 2500, "src3": 60000}
    kept = sampling.token_budget_mix(
        docs, "source", "doc_id", "n_chars", budgets, seed="tb-l"
    )
    got = sorted(
        (r.doc_id, r.source)
        for r in kept.select("doc_id", "source").collect()
    )
    assert len(got) > 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    vals = ", ".join(f"('{s}', {b})" for s, b in budgets.items())
    want = sorted(
        tuple(r)
        for r in con.execute(f"""
    WITH b(source, budget) AS (VALUES {vals}),
    cum AS (
        SELECT d.doc_id, d.source, b.budget,
               sum(d.n_chars) OVER (
                   PARTITION BY d.source
                   ORDER BY md5('tb-l' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS running
        FROM documents d JOIN b USING (source)
        WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
    )
    SELECT doc_id, source FROM cum WHERE running <= budget
    """).fetchall()
    )
    assert got == want
    # real split: some kept, some dropped, in at least one stratum
    assert 0 < len(got) < docs.count()


def test_soft_dedup_weights_semantics(spark):
    """Soft dedup (staged r15 → r16 registration): every row gains its
    exact-content group size and weight 1/size; NULL content groups
    like any other value; survivors of weighted training see each
    distinct content once in expectation (sum of weights per group =
    1)."""
    from python_dtl_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "x"), (3, "y"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    out = dedup.soft_dedup_weights(df, ["text"])
    rows = {r.doc_id: (r.dup_count, r.sample_weight) for r in out.collect()}
    assert rows[0] == (3, 1.0 / 3) and rows[1] == (3, 1.0 / 3)
    assert rows[3] == (1, 1.0)
    assert rows[4] == (2, 0.5) and rows[5] == (2, 0.5)  # NULLs group
    assert out.count() == 6  # nothing dropped
    with pytest.raises(ValueError, match="output column"):
        dedup.soft_dedup_weights(df, ["text"], count_col="text")
    with pytest.raises(ValueError, match="content_cols"):
        dedup.soft_dedup_weights(df, ["nope"])


def test_soft_dedup_weights_matches_duckdb_replay(spark):
    """Pre-validated replay (the staging pattern): DuckDB re-derives
    the per-content group sizes over the REAL corpus and must match
    count and weight bit-for-bat (one exact integer count + one IEEE
    division)."""
    import duckdb

    from python_dtl_spark.operators import dedup

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dedup.soft_dedup_weights(docs, ["text"])
    got = sorted(
        (r.doc_id, r.dup_count, r.sample_weight) for r in out.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute("""
    SELECT doc_id,
           CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
           1.0 / count(*) OVER (PARTITION BY text) AS sample_weight
    FROM documents
    """).fetchall()
    )
    assert got == want and len(got) == docs.count()


def test_bpe_fertility_matches_duckdb_replay(spark):
    """Tokenizer FERTILITY audit (staged r15 → r16 registration
    candidate `doc_bpe_fertility`): per-doc tokens-per-word and
    chars-per-token under a FITTED merge table — the standard
    tokenizer-eval metric (a high-fertility tokenizer wastes context
    budget).  All inputs are exact integers (post-encode token count,
    pre-merge word count, n_chars); the two ratios are single IEEE
    divisions, so the replay matches bit-for-bit.  DuckDB re-derives
    the encode via the same 3-stage greedy replay the doc_bpe_encode
    oracle uses."""
    import duckdb

    from python_dtl_spark.catalog import (
        _BPE_ENCODE_MERGES,
        _TOKS_SQL,
        _bpe_stage_sql,
        _sql_quote,
    )
    from python_dtl_spark.operators import text as text_ops

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    enc = text_ops.bpe_encode(docs, _BPE_ENCODE_MERGES, out_col="tokens_bpe")
    out = enc.select(
        "doc_id",
        F.size(F.col("tokens_bpe")).cast("long").alias("n_tokens"),
        F.size(text_ops.tokens(F.lower(F.col("text"))))
        .cast("long")
        .alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).withColumn(
        "tokens_per_word",
        F.when(
            F.col("n_words") > 0, F.col("n_tokens") / F.col("n_words")
        ),
    ).withColumn(
        "chars_per_token",
        F.when(
            F.col("n_tokens") > 0, F.col("n_chars") / F.col("n_tokens")
        ),
    )
    got = sorted(map(tuple, out.collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    stages = "".join(
        _bpe_stage_sql(
            "tk",
            i,
            f"'{_sql_quote(l)}'",
            f"'{_sql_quote(r)}'",
            f"'{_sql_quote(l + ' ' + r)}'",
        )
        for i, (l, r) in enumerate(_BPE_ENCODE_MERGES)
    )
    want = sorted(
        tuple(r)
        for r in con.execute(f"""
    WITH tk0 AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    ){stages},
    base AS (
        SELECT e.doc_id,
               CAST(len(e.t) AS BIGINT) AS n_tokens,
               CAST(len(w.t) AS BIGINT) AS n_words,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM tk{len(_BPE_ENCODE_MERGES)} e
        JOIN tk0 w USING (doc_id)
        JOIN documents d USING (doc_id)
    )
    SELECT doc_id, n_tokens, n_words, n_chars,
           CASE WHEN n_words > 0 THEN n_tokens / n_words END
               AS tokens_per_word,
           CASE WHEN n_tokens > 0 THEN n_chars / n_tokens END
               AS chars_per_token
    FROM base
    """).fetchall()
    )
    assert got == want and len(got) == docs.count()


def test_importance_resample_matches_bruteforce_reference(spark):
    """Seeded Gumbel-top-k importance resampling vs a literal Python
    reference: identical u construction (md5 first 12 hex + 0.5 over
    2^48), identical priorities to 1e-12, identical kept set."""
    import hashlib
    import math
    import random

    from python_dtl_spark.operators import sampling

    rng = random.Random(7)
    rows = [(i, rng.uniform(-5.0, 5.0)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = sampling.importance_resample(
        df, "w", "doc_id", 0.25, seed="ir1"
    )
    got = sorted(r.doc_id for r in kept.collect())

    def prio(k, w):
        v = int(hashlib.md5(f"ir1{k}".encode()).hexdigest()[:12], 16)
        u = (v + 0.5) / (1 << 48)
        return w + (-math.log(-math.log(u)))

    ranked = sorted(rows, key=lambda r: (-prio(r[0], r[1]), r[0]))
    want = sorted(k for k, _ in ranked[:20])  # ceil(80/4)
    assert got == want
    # the priority expression itself matches to float precision
    from pyspark.sql import functions as F

    spark_prio = {
        r.doc_id: r.p
        for r in df.select(
            "doc_id",
            sampling.gumbel_priority(
                F.col("w"), F.col("doc_id"), "ir1"
            ).alias("p"),
        ).collect()
    }
    for k, w in rows:
        assert abs(spark_prio[k] - prio(k, w)) < 1e-12, k


def test_importance_resample_is_weighted(spark):
    """Sampling ∝ exp(weight): with half the keys at log-weight
    ln(50) and half at 0, a 25% resample must be dominated by the
    heavy half (deterministic given the seed, so this is a stable
    assertion, not a flaky statistical one)."""
    import math

    from python_dtl_spark.operators import sampling

    rows = [(i, math.log(50.0) if i % 2 == 0 else 0.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = sampling.importance_resample(df, "w", "doc_id", 0.25, seed="ir2")
    ids = [r.doc_id for r in kept.collect()]
    assert len(ids) == 100
    heavy = sum(1 for i in ids if i % 2 == 0)
    assert heavy >= 90, heavy


def test_importance_resample_matches_duckdb_replay(spark):
    """The staged r15 resampling recipe pre-validated end-to-end:
    DuckDB recomputes the Gumbel priorities INDEPENDENTLY
    (gumbel_priority_sql over the same stored weights) and must
    select the identical doc set; the rank-boundary gap is also
    measured here so registration can cite it (the
    pipeline_dsir_select margin pattern)."""
    import duckdb

    from python_dtl_spark.operators import classify, sampling

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tc = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    scored = classify.dsir_weights(docs, tc, rc, seed="ds1").select(
        "doc_id", "log_weight"
    )
    kept = sampling.importance_resample(
        scored, "log_weight", "doc_id", 0.25, seed="ir-l"
    )
    got = sorted(r.doc_id for r in kept.collect())
    n = scored.count()
    k = -(-n // 4)
    assert len(got) == k

    # measured boundary gap for the registration's margin argument
    pri = sorted(
        (
            r.p
            for r in scored.select(
                sampling.gumbel_priority(
                    F.col("log_weight"), F.col("doc_id"), "ir-l"
                ).alias("p")
            ).collect()
        ),
        reverse=True,
    )
    gap = pri[k - 1] - pri[k]
    assert gap > 1e-9, gap

    # independent DuckDB replay over the SAME weights table (the
    # weights themselves are oracled by doc_dsir_weights /
    # pipeline_dsir_select; this pins the resampling recipe)
    con = duckdb.connect()
    con.execute("CREATE TABLE wtbl (doc_id BIGINT, log_weight DOUBLE)")
    con.executemany(
        "INSERT INTO wtbl VALUES (?, ?)",
        [(r.doc_id, r.log_weight) for r in scored.collect()],
    )
    prio_sql = sampling.gumbel_priority_sql("log_weight", "doc_id", "ir-l")
    want = sorted(
        r[0]
        for r in con.execute(f"""
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY {prio_sql} DESC, doc_id
               ) AS r
        FROM wtbl
    ) WHERE r <= {k}
    """).fetchall()
    )
    assert got == want


def test_dsir_weights_row_local_matches_join_path(spark):
    """The DSIR streaming tier (plan-literal bucket→freq maps + one
    F.aggregate fold) must produce IDENTICAL integer diagnostics and
    the same log weight to 1e-9 as the broadcast-join tier, and the
    literal-cell guard must refuse oversized models loudly."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tc = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    cols = (
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq",
        "n_unseen_target", "n_unseen_raw", "log_weight",
    )
    join_tier = {
        r.doc_id: tuple(r)
        for r in classify.dsir_weights(docs, tc, rc, seed="ds1")
        .select(*cols)
        .collect()
    }
    row_tier = {
        r.doc_id: tuple(r)
        for r in classify.dsir_weights(
            docs, tc, rc, seed="ds1", row_local=True
        )
        .select(*cols)
        .collect()
    }
    assert set(join_tier) == set(row_tier)
    for d, j in join_tier.items():
        r = row_tier[d]
        assert j[:6] == r[:6], (d, j, r)  # exact integers
        assert abs(j[6] - r[6]) < 1e-9, (d, j[6], r[6])
    with pytest.raises(ValueError, match="literal cells"):
        classify.dsir_weights(
            docs, tc, rc, seed="ds1", row_local=True, max_literal_cells=3
        )


def test_top_fraction_full_fraction_keeps_everything(spark):
    """fraction=1 short-circuits: every non-NULL row survives with no
    quantile pass and no rank (k >= n)."""
    from fractions import Fraction

    from python_dtl_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "doc_id long, w double"
    )
    kept = sampling.top_fraction(df, "w", Fraction(1, 1), "doc_id")
    assert kept.count() == 10


def test_hash_sample_matches_fit_valve_contract(spark):
    """The extracted shared sample valve (staged for the r15
    refactor): byte-identical membership to the block duplicated in
    the fit functions — same md5 recipe, same rounding, same loud
    guards on degenerate fractions and float keys."""
    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        r.doc_id
        for r in sampling.hash_sample(
            docs, "doc_id", 0.5, seed="lm-l"
        ).collect()
    )
    # the exact expression lm_fit uses today
    want = sorted(
        r.doc_id
        for r in docs.where(
            sampling.hash_bucket(F.col("doc_id"), seed="lm-l") < 5000
        ).collect()
    )
    assert got == want and 0 < len(got) < docs.count()
    with pytest.raises(ValueError, match="sample_fraction"):
        sampling.hash_sample(docs, "doc_id", 0.0)
    with pytest.raises(ValueError, match="empty"):
        sampling.hash_sample(docs, "doc_id", 1e-9)
    with pytest.raises(ValueError, match="stable key"):
        sampling.hash_sample(
            docs.withColumn("f", F.lit(0.5)), "f", 0.5
        )


def test_top_fraction_floor_only_plateau_is_exact(spark):
    """floor_only=True (the documented 100 TB escape hatch, registered
    as pipeline_floor_select): keep everything >= the coarse quantile
    floor, approximate COUNT but — on a score with a plateau wide
    enough to swallow the Greenwald-Khanna rank guarantee (err 0.01 →
    rank band 0.72n–0.74n, plateau spans 0.60n–0.80n) — an exactly
    deterministic kept SET: the floor must be the plateau value."""
    from fractions import Fraction

    from python_dtl_spark.operators import sampling

    rows = [
        (
            i,
            float(1000 + (i % 100))
            if i % 100 >= 80
            else (500.0 if i % 100 >= 60 else float(i % 100)),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    kept = sampling.top_fraction(
        df, "score", Fraction(1, 4), "doc_id", floor_only=True
    )
    got = sorted(r.doc_id for r in kept.collect())
    assert got == sorted(i for i in range(500) if i % 100 >= 60)
    with pytest.raises(ValueError, match="floor_only"):
        sampling.top_fraction(
            df, "score", 0.25, "doc_id",
            prefilter_quantile_error=None, floor_only=True,
        )
    # fraction ~1 drives the floor prob to 0: everything survives
    assert (
        sampling.top_fraction(
            df, "score", Fraction(99, 100), "doc_id", floor_only=True
        ).count()
        == 500
    )


def test_top_fraction_validates_prefilter_error(spark):
    """advisor r14: a negative prefilter_quantile_error used to reach
    approxQuantile as prob > 1 (opaque JVM error); a large one
    silently disabled the prefilter.  Both now raise at entry."""
    from python_dtl_spark.operators import sampling

    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0)], "doc_id long, score double"
    )
    for bad in (-0.01, 0.0, 0.5, 3.0):
        with pytest.raises(ValueError, match="prefilter_quantile_error"):
            sampling.top_fraction(
                df, "score", 0.5, "doc_id", prefilter_quantile_error=bad
            )


def test_top_fraction_unpersists_on_error(spark):
    """advisor r14: an eager pass throwing inside top_fraction (here:
    approxQuantile on a string score) used to leak the persist until
    session end — the except path must unpersist before re-raising."""
    from python_dtl_spark.operators import dedup, sampling

    dedup.release_all_cached(spark)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    df = spark.createDataFrame(
        [(0, "high"), (1, "low")], "doc_id long, score string"
    )
    with pytest.raises(Exception):
        sampling.top_fraction(df, "score", 0.5, "doc_id")
    assert cm.isEmpty(), "top_fraction leaked its persist on the error path"


def test_token_budget_mix_quality_ordered(spark):
    """order_col fills each stratum's budget BEST-first: membership is
    the greedy (order DESC, key ASC) prefix under the exact integer
    running sum — pinned against a literal reference; NULL scores are
    excluded; a missing order or size column raises the module's loud
    ValueError (advisor r14 for size_col)."""
    from python_dtl_spark.operators import sampling

    rows = [
        # (doc_id, stratum, n_tok, q)
        (1, "a", 40, 9.0),
        (2, "a", 40, 8.0),
        (3, "a", 40, 7.0),   # budget 100: q=9 (40) + q=8 (40) fit, q=7 over
        (4, "a", 10, None),  # NULL score: excluded even though it fits
        (5, "b", 60, 1.0),
        (6, "b", 50, 2.0),   # kept first (higher q); then 5 is over budget
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, stratum string, n_tok int, q double"
    )
    kept = sampling.token_budget_mix(
        df, "stratum", "doc_id", "n_tok",
        {"a": 100, "b": 60}, order_col="q",
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 6]
    with pytest.raises(ValueError, match="order column"):
        sampling.token_budget_mix(
            df, "stratum", "doc_id", "n_tok", {"a": 1}, order_col="nope"
        )
    with pytest.raises(ValueError, match="size column"):
        sampling.token_budget_mix(
            df, "stratum", "doc_id", "nope", {"a": 1}
        )


def test_fit_sample_valve_refactor_is_pure(spark):
    """The r15 sample-valve refactor (COVERAGE.md dated commitment):
    nb_fit / lm_fit / bpe_fit / dsir_fit now delegate their
    ``sample_fraction`` valve to ``sampling.hash_sample``.  Pure
    refactor = each fit over the valve is output-identical to the same
    fit over an input pre-filtered with the ORIGINAL inline expression
    (``hash_bucket(id) < round(fraction·10000)``)."""
    from python_dtl_spark.operators import classify, sampling, text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frac, seed = 0.5, "valve-r15"
    pre = docs.where(
        sampling.hash_bucket(F.col("doc_id"), seed=seed)
        < round(frac * 10_000)
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got_tc, got_cs = classify.nb_fit(
        docs, "lang", sample_fraction=frac, sample_seed=seed
    )
    want_tc, want_cs = classify.nb_fit(pre, "lang")
    assert rows(got_tc) == rows(want_tc) and rows(got_cs) == rows(want_cs)

    got_bi, got_uni = classify.lm_fit(
        docs, sample_fraction=frac, sample_seed=seed, max_vocab=200
    )
    want_bi, want_uni = classify.lm_fit(pre, max_vocab=200)
    assert rows(got_bi) == rows(want_bi) and rows(got_uni) == rows(want_uni)

    got_ds = classify.dsir_fit(docs, sample_fraction=frac, sample_seed=seed)
    want_ds = classify.dsir_fit(pre)
    assert rows(got_ds) == rows(want_ds)

    _, got_merges = text.bpe_fit(
        docs, 2, min_count=1, sample_fraction=frac, sample_seed=seed
    )
    _, want_merges = text.bpe_fit(pre, 2, min_count=1)
    assert got_merges == want_merges and len(got_merges) == 2


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_dsir_resample_boundary_gap_is_wide(spark, sf):
    """pipeline_dsir_resample hashes a rank-boundary decision on the
    float Gumbel priority (log_weight + md5-derived noise): assert the
    gap between last-kept and first-dropped clears cross-engine
    libm/ln drift (~1e-13) by many orders at every scale the driver
    or the sweep hashes (measured 3.5e-1 / 1.9e-2 / 5.2e-3 at
    sf0.001/0.01/0.1)."""
    from python_dtl_spark.operators import classify, sampling

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    tc = classify.dsir_fit(docs.where(F.col("source") == "src1"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    scored = classify.dsir_weights(docs, tc, rc, seed="ds1").select(
        "doc_id", "log_weight"
    )
    pri = sorted(
        (
            r.p
            for r in scored.select(
                sampling.gumbel_priority(
                    F.col("log_weight"), F.col("doc_id"), "ir-l"
                ).alias("p")
            ).collect()
        ),
        reverse=True,
    )
    n = len(pri)
    k = -(-n // 4)
    assert 0 < k < n
    gap = pri[k - 1] - pri[k]
    assert gap > 1e-6, (sf, gap)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_ccnet_bucket_boundary_gap_is_wide(spark, sf):
    """pipeline_ccnet_buckets hashes head/middle/tail labels decided
    by float comparisons against per-source percentile_disc
    boundaries: for every source, the min NONZERO |ppl − boundary|
    gap must clear cross-engine ln-sum drift (~1e-13) by many orders
    (zero gaps are the boundary docs themselves — exact self-equality
    in both engines once the scored frame is materialized, which the
    catalog query persists for)."""
    from python_dtl_spark.operators import classify, stats

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300,
    )
    scored = (
        classify.lm_perplexity(docs, bi, uni)
        .filter(F.col("n_trans") > 0)
        .select("doc_id", "source", "perplexity")
        .persist()
    )
    bounds = {
        r.source: (r.p33, r.p66)
        for r in stats.grouped_percentiles(
            scored, "perplexity", ["source"], ps=[0.33, 0.66]
        ).collect()
    }
    gaps = [
        abs(r.perplexity - b)
        for r in scored.collect()
        for b in bounds[r.source]
        if r.perplexity != b
    ]
    scored.unpersist()
    assert min(gaps) > 1e-6, (sf, min(gaps))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_ppl_delta_boundary_gap_is_wide(spark, sf):
    """pipeline_ppl_delta_select hashes a rank-boundary decision on
    the float delta = ln(ppl_ref) − ln(ppl_target) (two ln-sums —
    order-unstable, libm-drifting ~1e-13): assert the last-kept /
    first-dropped gap clears that drift by many orders at every scale
    the driver or the sweep hashes."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    tbi, tuni = classify.lm_fit(
        docs.where(F.col("source") == "src1"), min_count=1, max_vocab=300
    )
    rbi, runi = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300,
    )
    st = classify.lm_perplexity(docs, tbi, tuni).select(
        "doc_id", "n_trans", F.col("perplexity").alias("ppl_t")
    )
    sr = classify.lm_perplexity(docs, rbi, runi).select(
        F.col("doc_id").alias("rid"), F.col("perplexity").alias("ppl_r")
    )
    deltas = sorted(
        (
            r.d
            for r in st.join(sr, st["doc_id"] == sr["rid"])
            .filter(F.col("n_trans") > 0)
            .select(
                (F.log(F.col("ppl_r")) - F.log(F.col("ppl_t"))).alias("d")
            )
            .collect()
        ),
        reverse=True,
    )
    n = len(deltas)
    k = -(-n // 4)
    assert 0 < k < n
    gap = deltas[k - 1] - deltas[k]
    assert gap > 1e-6, (sf, gap)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_importance_resample_doc_boundary_gap(spark, sf):
    """doc_importance_resample (registered r15) hashes a rank-boundary
    decision on the float Gumbel priority over the plain doc-level
    weight n_chars/1000.0 (one exact IEEE division; only the
    priority's two ln() calls drift, ~1e-16): assert the last-kept /
    first-dropped gap clears that drift by many orders at every scale
    the driver or the sweep hashes."""
    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    pri = sorted(
        (
            r.p
            for r in docs.filter(F.col("n_chars").isNotNull())
            .select(
                sampling.gumbel_priority(
                    F.col("n_chars").cast("double") / F.lit(1000.0),
                    F.col("doc_id"),
                    "ir-doc",
                ).alias("p")
            )
            .collect()
        ),
        reverse=True,
    )
    n = len(pri)
    k = -(-n // 4)
    assert 0 < k < n
    gap = pri[k - 1] - pri[k]
    assert gap > 1e-6, (sf, gap)


def test_assign_to_centroids_exact_argmin_and_ties(spark):
    """assign_to_centroids: exact squared-distance argmin against the
    frozen centroid table; equidistant ties break to the SMALLEST cid;
    NULL ids/vectors are excluded; list-form centroids use positional
    ids; validation raises on dup/NULL cids, dim disagreements and an
    empty table."""
    cents = spark.createDataFrame(
        [(10, [0.0, 0.0]), (7, [4.0, 0.0]), (30, [0.0, 4.0])],
        "cid long, centroid array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (1, [0.1, 0.0]),    # -> 10
            (2, [3.9, 0.2]),    # -> 7
            (3, [0.0, 3.5]),    # -> 30
            (4, [2.0, 2.0]),    # equidistant to ALL three -> smallest cid 7
            (5, None),          # excluded
            (None, [1.0, 1.0]), # excluded
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.assign_to_centroids(vecs, cents, dim=2, with_distance=True)
    got = {r.vec_id: (r.centroid_id, r.sq_dist) for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1][0] == 10 and got[2][0] == 7 and got[3][0] == 30
    # (2,2) is sq-dist 8 from every centroid: tie -> min cid
    assert got[4] == (7, 8.0)
    assert got[1][1] == pytest.approx(0.01)
    # list form: positional ids
    out2 = similarity.assign_to_centroids(
        vecs, [[0.0, 0.0], [4.0, 0.0]], dim=2
    )
    got2 = {r.vec_id: r.centroid_id for r in out2.collect()}
    assert got2[1] == 0 and got2[2] == 1
    with pytest.raises(ValueError, match="unique"):
        similarity.assign_to_centroids(
            vecs,
            spark.createDataFrame(
                [(1, [0.0, 0.0]), (1, [1.0, 1.0])],
                "cid long, centroid array<double>",
            ),
        )
    with pytest.raises(ValueError, match="empty"):
        similarity.assign_to_centroids(vecs, [])
    with pytest.raises(ValueError, match="dimension"):
        similarity.assign_to_centroids(vecs, [[0.0], [0.0, 1.0]])
    with pytest.raises(ValueError, match="already"):
        similarity.assign_to_centroids(
            vecs.withColumn("centroid_id", F.lit(1)), [[0.0, 0.0]]
        )


def test_merge_centroid_index_equals_rebuild(spark):
    """The stored-index contract at the IVF grain: assigning the delta
    against the frozen centroids and appending equals a from-scratch
    rebuild over corpus ∪ delta, row for row (assignment is row-local
    and the centroid table is immutable — the property that makes the
    daily append arrival-sized).  Schema drift on the stored index
    raises."""
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    cents = (
        corpus.filter(F.col("vec_id") % 37 == 0)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid"))
    )
    delta = corpus.filter(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    index = similarity.assign_to_centroids(corpus, cents, dim=64)
    merged = similarity.merge_into_centroid_index(index, delta, cents, dim=64)
    rebuilt = similarity.assign_to_centroids(
        corpus.unionByName(delta), cents, dim=64
    )
    a = sorted((r.vec_id, r.centroid_id) for r in merged.collect())
    b = sorted((r.vec_id, r.centroid_id) for r in rebuilt.collect())
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="schema"):
        similarity.merge_into_centroid_index(
            index.withColumnRenamed("centroid_id", "cluster"), delta, cents
        )


def test_centroid_assignment_stats_drift_valve(spark):
    """centroid_assignment_stats: exact per-centroid occupancy and
    sum/mean of the squared assignment distance — the drift valve's
    measurement (fit-time baseline vs post-merge ratio)."""
    assign = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 3.0), (3, 20, 0.5)],
        "vec_id long, centroid_id long, sq_dist double",
    )
    got = {
        r.centroid_id: (r.n_vectors, r.sum_sq_dist, r.mean_sq_dist)
        for r in similarity.centroid_assignment_stats(assign).collect()
    }
    assert got[10] == (2, 4.0, 2.0)
    assert got[20] == (1, 0.5, 0.5)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_assign_to_centroids_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged pipeline_centroid_index row
    (r18 slate): DuckDB recomputes the exact squared-distance argmin
    over the REAL embeddings corpus against the same frozen centroid
    table (vec_id % 37 members, cid = vec_id) and must agree
    row-for-row with the engine's literal-expression assignment —
    including the merged day-1 delta (exact vector copies re-keyed
    +500000, which must land on their sources' centroids by
    construction).

    Hash safety is MEASURED, not assumed: the minimum relative gap
    between each vector's best and second-best centroid distance is
    3.5e-5 / 2.1e-6 / 2.6e-5 at sf0.001/0.01/0.1 — ≥8 orders above
    the ~1e-14 cross-engine summation-order drift of a 64-term double
    fold (the pipeline_lm_curate precedent) — and pinned by the
    margin guard below."""
    import duckdb

    path = f"/root/testdata/{sf}/embeddings.parquet"
    corpus = (
        spark.read.parquet(path)
        .select("vec_id", "embedding")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    )
    cents = corpus.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    delta = corpus.filter(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    index = similarity.assign_to_centroids(corpus, cents, dim=64)
    merged = similarity.merge_into_centroid_index(index, delta, cents, dim=64)
    got = sorted((r.vec_id, r.centroid_id) for r in merged.collect())

    con = duckdb.connect()
    oracle = con.execute(f"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM '{path}'
          WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        ), aug AS (
          SELECT vec_id, v FROM corpus
          UNION ALL
          SELECT vec_id + 500000, v FROM corpus WHERE vec_id % 7 = 3
        ), cents AS (
          SELECT vec_id AS cid, v AS c FROM corpus WHERE vec_id % 37 = 0
        ), d AS (
          SELECT aug.vec_id, cents.cid,
                 list_sum([ (v[i]-c[i])*(v[i]-c[i])
                            FOR i IN range(1, len(v)+1) ]) AS dist
          FROM aug CROSS JOIN cents
        )
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cid) AS rn
          FROM d
        ) WHERE rn = 1
        ORDER BY vec_id
    """).fetchall()
    assert got == [(v, c) for v, c in oracle]
    # centroid rows assign to themselves at distance 0
    self_assign = {v: c for v, c in got}
    for r in cents.collect():
        assert self_assign[r.cid] == r.cid
    # margin guard: the argmin must stay hash-safe as data regenerates
    gap = con.execute(f"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM '{path}'
          WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        ), cents AS (
          SELECT vec_id AS cid, v AS c FROM corpus WHERE vec_id % 37 = 0
        ), d AS (
          SELECT corpus.vec_id, cents.cid,
                 list_sum([ (v[i]-c[i])*(v[i]-c[i])
                            FOR i IN range(1, len(v)+1) ]) AS dist
          FROM corpus CROSS JOIN cents
        ), r AS (
          SELECT vec_id, dist,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cid) AS rn
          FROM d
        )
        SELECT min((b.dist - a.dist) / greatest(a.dist, 1e-30))
        FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    """).fetchone()[0]
    assert gap > 1e-7, f"argmin margin collapsed to {gap}"


@pytest.mark.parametrize("n", [256, 2048])
def test_image_keep_one_matches_duckdb_replay(spark, n):
    """Pre-validated oracle for the staged pipeline_image_keep row
    (r18 slate): image near-dup pairs (FNV fake-decode phash →
    pigeonhole Hamming join) composed with keep_one_from_pairs gives
    the multimodal stack the same keep-one semantics the text/LSH
    stacks have.  DuckDB derives the full pair set by brute force
    (HUGEINT FNV fold + bit_count(xor()) over all C(n,2) pairs — the
    quadratic luxury ONLY the oracle gets) and resolves components
    with a WITH RECURSIVE min-label closure, so the replay is sound
    even if a stray cross-group pair ever appears at a new scale;
    on this fixture components are exactly the payload groups of 4,
    so cluster_id = asset_id % groups and keep = (asset_id < groups)
    — both asserted independently."""
    import duckdb

    groups = n // 4
    assets = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.sha2((F.col("id") % groups).cast("string"), 256)
        .cast("binary")
        .alias("payload"),
    )
    pairs = multimodal.image_near_dup_pairs(assets, max_hamming=6, fake=True)
    keep = dedup.keep_one_from_pairs(
        assets.select("asset_id"), pairs, id_col="asset_id"
    )
    got = sorted(
        (r.asset_id, r.cluster_id, r.keep) for r in keep.collect()
    )
    # structural ground truth: payload groups are cliques at Hamming 0
    assert got == [(i, i % groups, i < groups) for i in range(n)]
    oracle = duckdb.connect().execute(f"""
        WITH RECURSIVE assets AS (
            SELECT range::BIGINT AS asset_id,
                   sha256(CAST(range % {groups} AS VARCHAR)) AS hex
            FROM range({n})
        ), fnv AS (
            SELECT asset_id,
                   list_reduce(
                       list_prepend(
                           CAST(14695981039346656037 AS HUGEINT),
                           [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                            FOR i IN range(1, len(hex) + 1)]),
                       (h, b) -> (xor(h, b) * 1099511628211)
                                 % 18446744073709551616
                   ) AS h
            FROM assets
        ), ph AS (
            SELECT asset_id, CAST(h // 2 AS BIGINT) AS phash FROM fnv
        ), pr AS (
            SELECT a.asset_id AS ia, b.asset_id AS ib
            FROM ph a JOIN ph b ON a.asset_id < b.asset_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 6
        ), edges AS (
            SELECT ia AS a, ib AS b FROM pr
            UNION ALL
            SELECT ib, ia FROM pr
        ), reach(a, b) AS (
            SELECT asset_id, asset_id FROM ph
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ), labels AS (
            SELECT a AS asset_id, min(b) AS cluster_id FROM reach GROUP BY a
        )
        SELECT asset_id, cluster_id, asset_id = cluster_id AS keep
        FROM labels ORDER BY asset_id
    """).fetchall()
    assert got == [(a, c, k) for a, c, k in oracle]


def test_quantile_drift_card(spark):
    """quantile_drift: per-group old/new discrete percentiles side by
    side — outputs are actual input elements; a group present on one
    side only reports NULLs on the other; NULL group keys are a group;
    NULL metric values drop out of both n and the percentiles (the
    matching denominator); dotted names resolve; bad ps raise."""
    from python_dtl_spark.operators.stats import quantile_drift

    old = spark.createDataFrame(
        [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]]
        + [("gone", 100), (None, 7), ("a", None)],
        "src string, tok long",
    )
    new = spark.createDataFrame(
        [("a", v) for v in [11, 12, 13, 14, 15, 16, 17, 18, 19, 20]]
        + [("fresh", 42), (None, 9)],
        "src string, tok long",
    )
    out = quantile_drift(old, new, "tok", ["src"], ps=(0.5, 0.9))
    got = {
        r.src: (r.n_old, r.n_new, r.old_p5, r.new_p5, r.old_p9, r.new_p9)
        for r in out.collect()
    }
    # percentile_disc(0.5) over 1..10 = 5 (smallest value with cume >= .5)
    assert got["a"] == (10, 10, 5, 15, 9, 19)
    assert got["gone"] == (1, None, 100, None, 100, None)
    assert got["fresh"] == (None, 1, None, 42, None, 42)
    assert got[None] == (1, 1, 7, 9, 7, 9)
    # dotted names
    o2 = old.select(F.col("src").alias("d.s"), F.col("tok").alias("d.t"))
    n2 = new.select(F.col("src").alias("d.s"), F.col("tok").alias("d.t"))
    out2 = quantile_drift(o2, n2, "d.t", ["d.s"], ps=(0.5,))
    got2 = {r["d.s"]: (r.n_old, r.n_new) for r in out2.collect()}
    assert got2["a"] == (10, 10)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="percentiles"):
        quantile_drift(old, new, "tok", ["src"], ps=(1.5,))
    with _pytest.raises(ValueError, match="missing"):
        quantile_drift(old, new, "nope", ["src"])
    with _pytest.raises(ValueError, match="group column"):
        quantile_drift(old, new, "tok", [])


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_quantile_drift_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged pipeline_quantile_drift row
    (r18 slate): per-source char-length distribution drift between the
    documents corpus and the standard crawl fixture (every 7th doc
    removed, every 5th survivor edited with a prefix, every 11th
    re-added), replayed in DuckDB via the cume_dist percentile_disc
    recipe on both sides + a null-safe full-outer card join.  Every
    output is an exact BIGINT (counts and discrete char lengths), so
    the card hashes with no float caveat."""
    import duckdb

    from python_dtl_spark.operators.stats import quantile_drift

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    new = base.filter(did % 7 != 0).withColumn(
        "text",
        F.when(
            did % 5 == 0,
            F.concat(F.lit("edited: "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    ).unionByName(
        base.filter(did % 11 == 0).select(
            (did + 1000000).alias("doc_id"), "source", "text"
        )
    )
    o = base.withColumn("chars", F.length("text").cast("long"))
    n = new.withColumn("chars", F.length("text").cast("long"))
    out = quantile_drift(o, n, "chars", ["source"], ps=(0.25, 0.5, 0.9))
    got = sorted(
        (
            r.source,
            r.n_old,
            r.n_new,
            r.old_p25,
            r.old_p5,
            r.old_p9,
            r.new_p25,
            r.new_p5,
            r.new_p9,
        )
        for r in out.collect()
    )
    oracle = duckdb.connect().execute(f"""
        WITH base AS (
            SELECT doc_id, source, text FROM '{path}' WHERE doc_id IS NOT NULL
        ), new AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'edited: ' || coalesce(text, '')
                        ELSE text END AS text
            FROM base WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 1000000, source, text
            FROM base WHERE doc_id % 11 = 0
        ), ro AS (
            SELECT source, length(text)::BIGINT AS v,
                   cume_dist() OVER (PARTITION BY source ORDER BY length(text)) AS cd
            FROM base WHERE text IS NOT NULL
        ), rn AS (
            SELECT source, length(text)::BIGINT AS v,
                   cume_dist() OVER (PARTITION BY source ORDER BY length(text)) AS cd
            FROM new WHERE text IS NOT NULL
        ), po AS (
            SELECT source,
                   min(CASE WHEN cd >= 0.25 THEN v END) AS old_p25,
                   min(CASE WHEN cd >= 0.5 THEN v END) AS old_p5,
                   min(CASE WHEN cd >= 0.9 THEN v END) AS old_p9
            FROM ro GROUP BY source
        ), pn AS (
            SELECT source,
                   min(CASE WHEN cd >= 0.25 THEN v END) AS new_p25,
                   min(CASE WHEN cd >= 0.5 THEN v END) AS new_p5,
                   min(CASE WHEN cd >= 0.9 THEN v END) AS new_p9
            FROM rn GROUP BY source
        ), co AS (
            -- counts from the UNFILTERED side, like the engine's
            -- count(value): an all-NULL-metric source reports n=0
            -- with NULL percentiles instead of vanishing (the old
            -- precondition-guarded divergence edge, now structural)
            SELECT source, count(text)::BIGINT AS n_old
            FROM base GROUP BY source
        ), cn AS (
            SELECT source, count(text)::BIGINT AS n_new
            FROM new GROUP BY source
        ), o2 AS (
            SELECT co.source, n_old, old_p25, old_p5, old_p9
            FROM co LEFT JOIN po ON co.source IS NOT DISTINCT FROM po.source
        ), n2 AS (
            SELECT cn.source, n_new, new_p25, new_p5, new_p9
            FROM cn LEFT JOIN pn ON cn.source IS NOT DISTINCT FROM pn.source
        )
        SELECT coalesce(o2.source, n2.source) AS source,
               n_old, n_new, old_p25, old_p5, old_p9, new_p25, new_p5, new_p9
        FROM o2 FULL OUTER JOIN n2 ON o2.source IS NOT DISTINCT FROM n2.source
        ORDER BY 1
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    assert len(got) >= 10  # a real per-source card, not a degenerate one


def test_edit_distance_pairs_semantics(spark):
    """edit_distance_pairs: exact duplicates (0), one substitution /
    insertion / deletion (1) all found; 'ab' vs 'ba' share a deletion
    variant but verify at distance 2 and are NOT emitted; NULLs are
    excluded; duplicated ids collapse; radius 2 and over-long strings
    refuse."""
    df = spark.createDataFrame(
        [
            (1, "spark"),
            (2, "spark"),    # exact dup of 1 -> distance 0
            (3, "sperk"),    # substitution  -> distance 1
            (4, "sparks"),   # insertion     -> distance 1
            (5, "spak"),     # deletion      -> distance 1
            (6, "ab"),
            (7, "ba"),       # shares variant 'a'/'b' with 6, dist 2: dropped
            (8, None),
            (None, "spark"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in dedup.edit_distance_pairs(df).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert got[(1, 4)] == 1 and got[(2, 4)] == 1
    assert got[(1, 5)] == 1 and got[(2, 5)] == 1
    assert (6, 7) not in got
    # sperk/sparks, sperk/spak, sparks/spak are all distance 2: absent
    assert (3, 4) not in got and (3, 5) not in got and (4, 5) not in got
    assert all(a != 8 and b != 8 for a, b in got)
    # duplicated id collapses to one row (no fan-out duplicates)
    dup = spark.createDataFrame(
        [(1, "aaa"), (1, "aaa"), (2, "aab")], "doc_id long, text string"
    )
    rows = dedup.edit_distance_pairs(dup).collect()
    assert len(rows) == 1 and (rows[0].id_a, rows[0].id_b) == (1, 2)
    with pytest.raises(ValueError, match="max_edit"):
        dedup.edit_distance_pairs(df, max_edit=2)
    import py4j.protocol

    with pytest.raises(Exception, match="key-grain"):
        long_df = spark.createDataFrame(
            [(1, "x" * 600)], "doc_id long, text string"
        )
        dedup.edit_distance_pairs(long_df).collect()


def test_edit_distance_pairs_bucket_valve(spark):
    """max_bucket_size drops hot variant buckets BEFORE the self-join
    (the MinHash valve): single-char strings all share the empty-string
    variant — valving it keeps the join bucket-bounded at the cost of
    those pairs (they still match through their own-string variants
    only when equal)."""
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate("abcdefgh")]
        + [(100, "aa"), (101, "ab")],
        "doc_id long, text string",
    )
    # unvalved: every distinct single char pairs with every other?  no —
    # distance('a','b') = 1 via substitution, all C(8,2) single-char
    # pairs are distance 1 and share the '' variant
    full = dedup.edit_distance_pairs(df).collect()
    assert sum(1 for r in full if r.id_a < 8 and r.id_b < 8) == 28
    # valved at 4: the 10-member '' bucket is dropped; single-char
    # pairs vanish, aa/ab (distance 1 via variants 'a'/'b') survive
    valved = {
        (r.id_a, r.id_b)
        for r in dedup.edit_distance_pairs(df, max_bucket_size=4).collect()
    }
    assert (100, 101) in valved
    assert not any(a < 8 and b < 8 for a, b in valved)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_edit_distance_pairs_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged dedup_edit_distance row
    (r18 slate): 24-char document title prefixes plus planted
    one-substitution typo rows (+1000000 ids on every 5th ≡ 2 doc),
    replayed in DuckDB by BRUTE-FORCE levenshtein over all C(n,2)
    pairs — the quadratic luxury only the oracle gets; the engine's
    deletion-neighborhood join must reproduce the distance-≤1 pair
    set losslessly, natural near-titles and exact-duplicate prefixes
    included."""
    import duckdb

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select(
            "doc_id",
            # non-ASCII stripped FIRST (identical literal class both engines):
            # DuckDB levenshtein is BYTE-based while Spark's is
            # codepoint-based, so the oracle is exact only over ASCII —
            # a no-op on today's corpus, immunity if it regenerates
            F.lower(
                F.substring(
                    F.trim(
                        F.regexp_replace("text", "[^\\x00-\\x7F]", "")
                    ),
                    1,
                    24,
                )
            ).alias("title"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("title").isNotNull())
    )
    typos = base.filter(
        (F.col("doc_id") % 5 == 2) & (F.length("title") >= 4)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 2),
            F.lit("~"),
            F.expr("substring(title, 4)"),
        ).alias("title"),
    )
    df = base.unionByName(typos)
    got = sorted(
        (r.id_a, r.id_b, r.edit_distance)
        for r in dedup.edit_distance_pairs(df, "doc_id", "title").collect()
    )
    oracle = duckdb.connect().execute(f"""
        WITH base AS (
            SELECT doc_id, lower(substr(trim(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')), 1, 24)) AS title
            FROM '{path}'
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), aug AS (
            SELECT doc_id, title FROM base
            UNION ALL
            SELECT doc_id + 1000000,
                   substr(title, 1, 2) || '~' || substr(title, 4)
            FROM base WHERE doc_id % 5 = 2 AND length(title) >= 4
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.title, b.title) AS INTEGER) AS d
        FROM aug a JOIN aug b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.title, b.title) <= 1
        ORDER BY 1, 2
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    assert len(got) >= 50  # planted typos + natural title collisions


def test_edit_distance_delta_matches_selfjoin_restriction(spark, tmp_path):
    """edit_distance_delta_pairs == the cross-side restriction of the
    self-join operator over corpus ∪ delta (the stored-index family
    contract, pinned the same way as the embedding tier), and the
    STORED index path (parquet round-trip) is bit-identical to the
    inline one."""
    corpus = spark.createDataFrame(
        [(1, "spark"), (2, "sparc"), (3, "duckdb"), (4, "flink")],
        "doc_id long, title string",
    )
    delta = spark.createDataFrame(
        [(101, "spark"),    # exact dup of 1, dist 1 of 2
         (102, "fink"),     # deletion of flink
         (103, "presto")],  # no match
        "doc_id long, title string",
    )
    got_inline = sorted(
        (r.delta_id, r.corpus_id, r.edit_distance)
        for r in dedup.edit_distance_delta_pairs(
            corpus, delta, "doc_id", "title"
        ).collect()
    )
    assert got_inline == [(101, 1, 0), (101, 2, 1), (102, 4, 1)]
    # restriction of the self-join over the union
    both = corpus.unionByName(delta)
    cross = sorted(
        (r.id_b, r.id_a, r.edit_distance)
        for r in dedup.edit_distance_pairs(both, "doc_id", "title").collect()
        if (r.id_a <= 4) != (r.id_b <= 4)
    )
    assert got_inline == cross
    # stored index path: parquet round-trip, bit-identical
    idx_path = str(tmp_path / "variant_index.parquet")
    dedup.title_variant_index(corpus, "doc_id", "title").write.parquet(idx_path)
    got_stored = sorted(
        (r.delta_id, r.corpus_id, r.edit_distance)
        for r in dedup.edit_distance_delta_pairs(
            corpus,
            delta,
            "doc_id",
            "title",
            corpus_index=spark.read.parquet(idx_path),
        ).collect()
    )
    assert got_stored == got_inline
    with pytest.raises(ValueError, match="corpus_index"):
        dedup.edit_distance_delta_pairs(
            corpus, delta, "doc_id", "title",
            corpus_index=corpus.select("doc_id"),
        )


def test_merge_variant_index_equals_rebuild(spark):
    """merge == from-scratch rebuild row-for-row (multiset compare):
    appending an accepted delta's variants to the stored index is
    exactly the index the full corpus ∪ delta build would produce."""
    corpus = spark.createDataFrame(
        [(1, "spark"), (2, "duckdb")], "doc_id long, title string"
    )
    delta = spark.createDataFrame(
        [(10, "sparky"), (11, "trino")], "doc_id long, title string"
    )
    idx = dedup.title_variant_index(corpus, "doc_id", "title")
    merged = sorted(
        (r.doc_id, r.variant)
        for r in dedup.merge_delta_into_variant_index(
            idx, delta, "doc_id", "title"
        ).collect()
    )
    rebuilt = sorted(
        (r.doc_id, r.variant)
        for r in dedup.title_variant_index(
            corpus.unionByName(delta), "doc_id", "title"
        ).collect()
    )
    assert merged == rebuilt and len(merged) > 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_title_delta_daily_loop_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged pipeline_title_delta row
    (r18 slate): the full character-grain daily loop — day-1 typo
    batch probes the STORED variant index → duplicates dropped →
    survivors merged → day-2 batch (typos OF day-1 rows) probes the
    MERGED index.  A day-2 pair against a day-1 survivor exists ONLY
    if the merge preserved its variants, so the append is load-bearing
    in the value compare (the pipeline_index_maintenance shape);
    DuckDB replays every leg with brute-force levenshtein."""
    import duckdb

    path = f"/root/testdata/{sf}/documents.parquet"
    corpus = (
        spark.read.parquet(path)
        .select(
            "doc_id",
            # non-ASCII stripped FIRST (identical literal class both engines):
            # DuckDB levenshtein is BYTE-based while Spark's is
            # codepoint-based, so the oracle is exact only over ASCII —
            # a no-op on today's corpus, immunity if it regenerates
            F.lower(
                F.substring(
                    F.trim(
                        F.regexp_replace("text", "[^\\x00-\\x7F]", "")
                    ),
                    1,
                    24,
                )
            ).alias("title"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("title").isNotNull())
    )
    eligible = corpus.filter(F.length("title") >= 7)
    # two day-1 legs: typos of corpus titles (distance 1 — dropped as
    # dups) and genuinely-NEW titles (a 4-char prepend, distance ≥ 4
    # from their source — these survive and must be merged)
    day1 = (
        eligible.filter(F.col("doc_id") % 5 == 2)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.substring("title", 1, 2),
                F.lit("~"),
                F.expr("substring(title, 4)"),
            ).alias("title"),
        )
        .unionByName(
            eligible.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.lit("qq# "), F.col("title")).alias("title"),
            )
        )
    )
    index = dedup.title_variant_index(corpus, "doc_id", "title")
    p1 = dedup.edit_distance_delta_pairs(
        corpus, day1, "doc_id", "title", corpus_index=index
    )
    survivors = day1.join(
        p1.select(F.col("delta_id").alias("doc_id")).dropDuplicates(),
        on="doc_id",
        how="left_anti",
    )
    merged_index = dedup.merge_delta_into_variant_index(
        index, survivors, "doc_id", "title"
    )
    merged_titles = corpus.unionByName(survivors)
    day2 = day1.filter(F.col("doc_id") >= 2000000).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 5), F.lit("~"), F.expr("substring(title, 7)")
        ).alias("title"),
    )
    p2 = dedup.edit_distance_delta_pairs(
        merged_titles, day2, "doc_id", "title", corpus_index=merged_index
    )
    got = sorted(
        (r.delta_id, r.corpus_id, r.edit_distance) for r in p2.collect()
    )
    oracle = duckdb.connect().execute(f"""
        WITH corpus AS (
            SELECT doc_id, lower(substr(trim(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')), 1, 24)) AS title
            FROM '{path}'
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), day1 AS (
            SELECT doc_id + 1000000 AS doc_id,
                   substr(title, 1, 2) || '~' || substr(title, 4) AS title
            FROM corpus WHERE doc_id % 5 = 2 AND length(title) >= 7
            UNION ALL
            SELECT doc_id + 2000000, 'qq# ' || title
            FROM corpus WHERE doc_id % 7 = 3 AND length(title) >= 7
        ), p1 AS (
            SELECT DISTINCT d.doc_id AS delta_id
            FROM day1 d JOIN corpus c
              ON levenshtein(d.title, c.title) <= 1
        ), survivors AS (
            SELECT * FROM day1 WHERE doc_id NOT IN (SELECT delta_id FROM p1)
        ), merged AS (
            SELECT doc_id, title FROM corpus
            UNION ALL
            SELECT doc_id, title FROM survivors
        ), day2 AS (
            SELECT doc_id + 2000000 AS doc_id,
                   substr(title, 1, 5) || '~' || substr(title, 7) AS title
            FROM day1 WHERE doc_id >= 2000000
        )
        SELECT d.doc_id AS delta_id, m.doc_id AS corpus_id,
               CAST(levenshtein(d.title, m.title) AS INTEGER) AS d
        FROM day2 d JOIN merged m ON levenshtein(d.title, m.title) <= 1
        ORDER BY 1, 2
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    # the append must be load-bearing: at least one day-2 pair lands on
    # a day-1 SURVIVOR (the new-title band), and at least one day-1
    # row was dropped as a dup (so the anti-join leg is exercised too)
    assert any(2000000 <= c < 3000000 for _, c, _ in got), got[:5]
    assert p1.count() > 0


def test_html_to_text_semantics(spark):
    """html_to_text: script/style bodies and comments vanish, tags
    strip to spaces, the named entities decode amp-LAST (a
    double-escaped '&amp;lt;' single-decodes to the literal '&lt;'
    like a real parser), numeric references pass through, whitespace
    collapses to the single-space normal form, NULL stays NULL."""
    from python_dtl_spark.operators.text import html_to_text

    rows = [
        (1, "<html><body><h1>Title</h1><p>Hello   <b>world</b>!</p>"
            "<script type='text/javascript'>var x = '<p>not text</p>';"
            "</script><style>.c { color: red }</style>"
            "<!-- secret\ncomment --><p>Bye</p></body></html>"),
        (2, "Fish &amp; chips &lt;now&gt; &quot;cheap&quot; &#39;y&#39;"
            " &amp;lt;literal&amp;gt; &#8217;num&#8217; &nbsp;end"),
        (3, "no markup at all"),
        (4, "  \t\n lots\fof\r\nspace \x0b here  "),
        (5, None),
        (6, "<br><br/>line<BR>breaks</ br>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in html_to_text(df).collect()}
    assert got[1] == "Title Hello world ! Bye"
    assert got[2] == (
        'Fish & chips <now> "cheap" \'y\' &lt;literal&gt; '
        "&#8217;num&#8217; end"
    )
    assert got[3] == "no markup at all"
    assert got[4] == "lots of space here"
    assert got[5] is None
    assert got[6] == "line breaks"
    # out_col keeps the original
    with_both = html_to_text(df, out_col="clean").collect()
    assert {r.doc_id: r.clean for r in with_both}[3] == "no markup at all"
    assert {r.doc_id: r.text for r in with_both}[1].startswith("<html>")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_html_to_text_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged doc_html_extract row (r18
    slate): HTML synthesized ROW-LOCALLY from the real documents table
    (tag wrapping, planted script/style/comment blocks, entity-escaped
    text, numeric refs) extracted by the engine and replayed in DuckDB
    with the SAME Java/RE2-common regex chain — md5-exact per doc."""
    import duckdb

    from python_dtl_spark.operators.text import (
        HTML_COMMENT_RE,
        HTML_ENTITIES,
        HTML_SCRIPT_RE,
        HTML_STYLE_RE,
        HTML_TAG_RE,
        html_to_text,
    )

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    did = F.col("doc_id")
    page = F.concat(
        F.lit("<html><head><title>doc </title>"
              "<style>.x{k:v}</style>"
              "<script>ignore('<b>me</b>')</script></head><body><p>"),
        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("</p><!-- c -->"),
        F.when(did % 3 == 0, F.lit("<div>extra &lt;tail&gt;</div>"))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    html = base.withColumn("text", page)
    got = sorted(
        (r.doc_id, r.text) for r in html_to_text(html).collect()
    )
    ent_chain = "p"
    for entity, ch in HTML_ENTITIES:
        lit = entity.replace("'", "''")
        chl = ch.replace("'", "''")
        ent_chain = f"replace({ent_chain}, '{lit}', '{chl}')"
    oracle = duckdb.connect().execute(f"""
        WITH base AS (
            SELECT doc_id,
                   '<html><head><title>doc </title><style>.x{{k:v}}</style>'
                   || '<script>ignore(''<b>me</b>'')</script></head><body><p>'
                   || replace(text, '&', '&amp;') || '</p><!-- c -->'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<div>extra &lt;tail&gt;</div>' ELSE '' END
                   || '</body></html>' AS page
            FROM '{path}'
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), stripped AS (
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(page, '{HTML_SCRIPT_RE}', ' ', 'g'),
                         '{HTML_STYLE_RE}', ' ', 'g'),
                       '{HTML_COMMENT_RE}', ' ', 'g'),
                     '{HTML_TAG_RE}', ' ', 'g') AS p
            FROM base
        )
        SELECT doc_id,
               trim(regexp_replace({ent_chain},
                    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ') AS text
        FROM stripped
        ORDER BY doc_id
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    assert len(got) > 400
    # no markup remnants (decoded entities may legitimately yield bare
    # '<'/'&' — document text containing '&lt;' should — so check for
    # the fixture's actual wrapper tags, not the characters)
    assert all(
        "<html>" not in t and "</p>" not in t and "<script>" not in t
        for _, t in got
        if t
    )


def test_extract_urls_semantics(spark):
    """extract_urls: every http(s) occurrence emits one row (duplicates
    preserved), trailing sentence punctuation strips, brackets/quotes
    terminate the match, NULLs excluded, URL-free docs emit nothing."""
    from python_dtl_spark.operators.urls import extract_urls

    df = spark.createDataFrame(
        [
            (1, "see https://a.com/x. and (http://b.org/p?q=1) twice: "
                "https://a.com/x."),
            (2, "quoted \"https://c.net/y\" and <https://d.io/z>"),
            (3, "no links here"),
            (4, None),
            (None, "https://ghost.com/"),
            (5, "ftp://not.http/ and https://ok.com/path,"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.url) for r in extract_urls(df).collect()
    )
    assert got == [
        (1, "http://b.org/p?q=1"),
        (1, "https://a.com/x"),
        (1, "https://a.com/x"),
        (2, "https://c.net/y"),
        (2, "https://d.io/z"),
        (5, "https://ok.com/path"),
    ]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_outlink_census_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged pipeline_outlink_census row
    (r18 slate): URLs planted row-locally in document text (tracking
    params, www/port/fragment variants, trailing punctuation) →
    extract_urls → canonicalize_urls → per-registrable-domain census
    (occurrences + distinct linking docs); DuckDB replays extraction
    regex, canonicalization and census exactly."""
    import duckdb

    from python_dtl_spark.operators.urls import canonicalize_urls, extract_urls

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    did = F.col("doc_id")
    # scrub natural lowercase 'http' so extraction sees PLANTED URLs
    # only — the oracle's last-two-labels domain rule is exact for the
    # planted hosts, not for arbitrary corpus URLs (r18 review find)
    planted = F.concat(
        F.replace(F.col("text"), F.lit("http"), F.lit("hxxp")),
        F.lit(" see https://WWW.Site"),
        (did % 7).cast("string"),
        F.lit(".example.com:443/a//b/?utm_source=x&id="),
        (did % 13).cast("string"),
        F.lit("#frag."),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" also (http://mirror"),
                (did % 5).cast("string"),
                F.lit(".org/path/)"),
            ),
        ).otherwise(F.lit("")),
    )
    docs = base.withColumn("text", planted)
    links = canonicalize_urls(extract_urls(docs))
    out = links.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    got = sorted(
        (r.registrable_domain, r.n_links, r.n_docs) for r in out.collect()
    )
    oracle = duckdb.connect().execute(f"""
        WITH docs AS (
            SELECT doc_id,
                   replace(text, 'http', 'hxxp')
                        || ' see https://WWW.Site' || (doc_id % 7)
                        || '.example.com:443/a//b/?utm_source=x&id='
                        || (doc_id % 13) || '#frag.'
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' also (http://mirror' || (doc_id % 5)
                                     || '.org/path/)'
                                ELSE '' END AS text
            FROM '{path}'
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), hits AS (
            SELECT doc_id,
                   regexp_replace(
                       unnest(regexp_extract_all(
                           text,
                           'https?://[^ \\t\\n\\r\\f\\x0B<>"''\\)\\]\\}}]+')),
                       '[.,;:!?]+$', '') AS url
            FROM docs
        ), parsed AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS hostport
            FROM hits
        ), hosts AS (
            SELECT doc_id,
                   CASE WHEN starts_with(
                            regexp_replace(hostport, ':[0-9]+$', ''), 'www.')
                        THEN substr(regexp_replace(hostport, ':[0-9]+$', ''), 5)
                        ELSE regexp_replace(hostport, ':[0-9]+$', '') END AS host
            FROM parsed
        ), doms AS (
            SELECT doc_id,
                   CASE WHEN len(string_split(host, '.')) >= 2
                        THEN array_to_string(
                            string_split(host, '.')[-2:], '.')
                        ELSE host END AS registrable_domain
            FROM hosts
        )
        SELECT registrable_domain,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM doms
        GROUP BY registrable_domain
        ORDER BY 1
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    # both planted families present with the right grain: the seven
    # site{0..6} subdomains COLLAPSE to one registrable example.com
    # (the census' point), the five mirrorN.org stay distinct
    census = {d: (links, docs_) for d, links, docs_ in got}
    assert census["example.com"] == (500, 500)
    assert sum(census[f"mirror{i}.org"][0] for i in range(5)) == 167
    assert len(got) == 6


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_html_ingest_card_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the optional pipeline_html_ingest row
    (r18/r19 slate): the crawl ingest front composed end to end —
    row-locally synthesized HTML pages (NULL text stays a NULL page)
    → html_to_text extraction → corpus_report per-source accounting
    of the EXTRACTED text.  One hash verifies the regex chain and the
    card arithmetic together; every metric is an exact BIGINT."""
    import duckdb

    from python_dtl_spark.operators.stats import corpus_report
    from python_dtl_spark.operators.text import (
        HTML_COMMENT_RE,
        HTML_ENTITIES,
        HTML_SCRIPT_RE,
        HTML_STYLE_RE,
        HTML_TAG_RE,
        html_to_text,
    )

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    # the raw table has zero NULL texts at these scales — plant them
    # (every 17th doc, the pipeline_corpus_report convention) so the
    # card's NULL-page accounting is load-bearing
    page = F.when(
        F.col("text").isNotNull() & (F.col("doc_id") % 17 != 3),
        F.concat(
            F.lit("<html><head><style>.x{k:v}</style>"
                  "<script>s('<p>skip</p>')</script></head><body><p>"),
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("</p><!-- c --></body></html>"),
        ),
    )
    extracted = html_to_text(base.withColumn("text", page))
    card = corpus_report(extracted, "source", "text")
    got = sorted(tuple(r) for r in card.collect())
    ent_chain = "p"
    for entity, ch in HTML_ENTITIES:
        lit = entity.replace("'", "''")
        chl = ch.replace("'", "''")
        ent_chain = f"replace({ent_chain}, '{lit}', '{chl}')"
    oracle = duckdb.connect().execute(f"""
        WITH pages AS (
            SELECT doc_id, source,
                   CASE WHEN text IS NULL OR doc_id % 17 = 3 THEN NULL
                        ELSE '<html><head><style>.x{{k:v}}</style>'
                             || '<script>s(''<p>skip</p>'')</script>'
                             || '</head><body><p>'
                             || replace(text, '&', '&amp;')
                             || '</p><!-- c --></body></html>' END AS page
            FROM '{path}' WHERE doc_id IS NOT NULL
        ), stripped AS (
            SELECT doc_id, source,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(page, '{HTML_SCRIPT_RE}', ' ', 'g'),
                         '{HTML_STYLE_RE}', ' ', 'g'),
                       '{HTML_COMMENT_RE}', ' ', 'g'),
                     '{HTML_TAG_RE}', ' ', 'g') AS p
            FROM pages
        ), extracted AS (
            SELECT doc_id, source,
                   trim(regexp_replace({ent_chain},
                        '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ') AS text
            FROM stripped
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) - count(text) AS BIGINT) AS n_null_text,
               CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars,
               CAST(coalesce(sum(
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x <> ''))), 0) AS BIGINT)
                   AS sum_tokens,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
        FROM extracted
        GROUP BY source
        ORDER BY source
    """).fetchall()
    assert got == [tuple(r) for r in oracle]
    assert len(got) >= 10
    assert any(r[2] > 0 for r in got)  # NULL pages accounted


def test_hashed_variant_index_equals_string_tier(spark, tmp_path):
    """The 100 TB tier of the variant index: storing xxhash64(variant)
    (fixed 8-byte join keys) changes NOTHING in the
    output — collisions only add candidates that die in the exact
    levenshtein verify.  Probe and merge auto-detect the tier from the
    stored column type; merge == rebuild holds within the hashed tier
    too."""
    corpus = spark.createDataFrame(
        [(1, "spark"), (2, "sparc"), (3, "duckdb"), (4, "flink")],
        "doc_id long, title string",
    )
    delta = spark.createDataFrame(
        [(101, "spark"), (102, "fink"), (103, "presto")],
        "doc_id long, title string",
    )
    s_idx = dedup.title_variant_index(corpus, "doc_id", "title")
    h_idx = dedup.title_variant_index(
        corpus, "doc_id", "title", hash_variants=True
    )
    assert dict(h_idx.dtypes)["variant"] == "bigint"
    want = sorted(
        (r.delta_id, r.corpus_id, r.edit_distance)
        for r in dedup.edit_distance_delta_pairs(
            corpus, delta, "doc_id", "title", corpus_index=s_idx
        ).collect()
    )
    # hashed tier through a parquet round-trip (the stored artifact)
    idx_path = str(tmp_path / "hashed_index.parquet")
    h_idx.write.parquet(idx_path)
    got = sorted(
        (r.delta_id, r.corpus_id, r.edit_distance)
        for r in dedup.edit_distance_delta_pairs(
            corpus,
            delta,
            "doc_id",
            "title",
            corpus_index=spark.read.parquet(idx_path),
        ).collect()
    )
    assert got == want and len(got) == 3
    # merge inherits the hashed tier and still equals a rebuild
    merged = sorted(
        (r.doc_id, r.variant)
        for r in dedup.merge_delta_into_variant_index(
            spark.read.parquet(idx_path), delta, "doc_id", "title"
        ).collect()
    )
    rebuilt = sorted(
        (r.doc_id, r.variant)
        for r in dedup.title_variant_index(
            corpus.unionByName(delta), "doc_id", "title", hash_variants=True
        ).collect()
    )
    assert merged == rebuilt


def test_html_to_text_vt_closing_tag_cross_engine(spark):
    """``</script\\x0B>`` / ``</style\\x0B>`` must close their blocks
    identically in Java and RE2: the closing-tag whitespace in
    HTML_SCRIPT_RE/HTML_STYLE_RE is the explicit class, never ``\\s``
    (Java's ``\\s`` includes VT, RE2's does not — the URL_RE lesson,
    r18 review find).  The general fuzz cannot form the literal word
    'script', so this divergence class gets its own targeted pin."""
    import duckdb

    from python_dtl_spark.operators.text import (
        HTML_SCRIPT_RE,
        HTML_STYLE_RE,
        html_to_text,
    )

    rows = [
        (1, "a<script>x</script\x0b>b"),
        (2, "c<style>y</style\x0b>d"),
        (3, "e<script>z</script >f"),
        (4, "g<script>w</script\t\n>h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in html_to_text(df).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{HTML_SCRIPT_RE}', ' ', 'g'),
                       '{HTML_STYLE_RE}', ' ', 'g'),
                   '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ')
        FROM (VALUES (1, 'a<script>x</script' || chr(11) || '>b'),
                     (2, 'c<style>y</style' || chr(11) || '>d'),
                     (3, 'e<script>z</script >f'),
                     (4, 'g<script>w</script' || chr(9) || chr(10) || '>h'))
             t(doc_id, text)
        """
        ).fetchall()
    )
    assert got == want
    # and the blocks really closed: their bodies are gone in BOTH
    assert got[1] == "a b" and got[2] == "c d"
    assert got[3] == "e f" and got[4] == "g h"


def test_card_scrub_semantics(spark):
    """card_scrub: Luhn-valid 13-16 digit runs (plain, space- or
    dash-grouped) redact and count per occurrence; bad check digits,
    short runs, over-long runs and embedded-in-word runs survive;
    NULL text stays NULL with NULL count; other columns pass through."""
    from python_dtl_spark.operators.text import card_scrub

    rows = [
        (1, "pay 4111111111111111 now"),
        (2, "pay 4111111111111112 now"),
        (3, "card 4111 1111 1111 1111 and 5500-0000-0000-0004 "
            "twice 4111 1111 1111 1111"),
        (4, "order 123456789012 id"),
        (5, "ts 12345678901234567890"),
        (6, "x4111111111111111 embedded"),
        (7, None),
        (8, "amex 378282246310005 ok"),
        # a verified PAN elsewhere must NOT partially rewrite its
        # occurrence inside a longer digit run (anchored replace —
        # the naive literal-replace fold mangled this to <CARD>2345)
        (9, "pay 4111111111111111; ref 41111111111111112345"),
        # r18-advisor class 1 (separator boundary): the second PAN's
        # site is the 16-digit Luhn-INVALID run '4111111111119 000';
        # the old anchored-alternation replace re-matched the verified
        # value INSIDE it (separators make internal \b boundaries),
        # yielding n_cards=1 with TWO token sites and mangling ' 000'.
        # Split-rebuild + sub-run scan: two counted sites, 000 intact.
        (10, "pay 4111111111119 and ref 4111111111119 000"),
        # r18-advisor class 2 (absorbed PAN): the maximal candidate
        # '4111111111119 000' is Luhn-invalid as a whole, so
        # whole-candidate verification let the real PAN escape; the
        # separator-bounded sub-run scan redacts it.
        (11, "card 4111111111119 000."),
        (12, "000 4111111111119"),  # whole 16-digit run Luhn-valid
        # 17 digits: no 16-digit \b run from the zeros, PAN matches
        # standalone starting at the '4'
        (13, "0000 4111111111119"),
        (14, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_cards, r.text) for r in card_scrub(df).collect()}
    assert got[1] == (1, "pay <CARD> now")
    assert got[2] == (0, "pay 4111111111111112 now")
    assert got[3] == (3, "card <CARD> and <CARD> twice <CARD>")
    assert got[4] == (0, "order 123456789012 id")
    assert got[5] == (0, "ts 12345678901234567890")
    assert got[6] == (0, "x4111111111111111 embedded")
    assert got[7] == (None, None)
    assert got[8] == (1, "amex <CARD> ok")
    assert got[9] == (1, "pay <CARD>; ref 41111111111111112345")
    assert got[10] == (2, "pay <CARD> and ref <CARD> 000")
    assert got[11] == (1, "card <CARD> 000.")
    assert got[12] == (1, "<CARD>")
    assert got[13] == (1, "0000 <CARD>")
    assert got[14] == (0, "")
    # custom token + column passthrough
    out = card_scrub(df.withColumn("keep", F.lit(7)), card_token="[PAN]")
    r1 = {r.doc_id: r for r in out.collect()}[1]
    assert r1.text == "pay [PAN] now" and r1.keep == 7


# The card_scrub DuckDB-replay builder lives next to the operator
# (python_dtl_spark/operators/text.py) so the r20 catalog block and
# these tests share ONE source of oracle SQL; re-exported here for
# the test modules that import it.
from python_dtl_spark.operators.text import (  # noqa: F401
    _CARD_LUHN_SQL,
    card_scrub_replay_sql,
)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_card_scrub_matches_duckdb_replay(spark, sf):
    """Pre-validated oracle for the staged doc_card_scrub row (r20
    slot): known-valid PANs (Visa/Amex/MC test numbers, grouped and
    plain), a bad-check-digit twin and a too-short run planted
    row-locally over the real documents table; DuckDB replays the
    ENTIRE algorithm — candidate regex, the exact-integer Luhn fold,
    the verified-only replace fold and the count — so the oracle is
    algorithm-complete, not a planted-truth shortcut (natural digit
    runs in the corpus are judged identically by both engines)."""
    import duckdb

    from python_dtl_spark.operators.text import card_scrub

    path = f"/root/testdata/{sf}/documents.parquet"
    base = (
        spark.read.parquet(path)
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    did = F.col("doc_id")
    plant = (
        F.when(did % 7 == 0, F.lit(" pay 4111111111111111."))
        .when(did % 7 == 1, F.lit(" card 5500-0000-0000-0004 x"))
        .when(did % 7 == 2, F.lit(" ref 4111111111111112 (bad)"))
        .when(did % 7 == 3, F.lit(" amex 378282246310005"))
        # advisor class 2: PAN absorbed into a Luhn-invalid maximal
        # candidate — the sub-run scan must still redact it
        .when(did % 7 == 4, F.lit(" card 4111111111119 000."))
        # advisor class 1: verified value at one site recurs inside a
        # longer invalid run at another — exactly-one-site replace
        .when(did % 7 == 5,
              F.lit(" pay 4111111111119 and ref 4111111111119 000"))
        .otherwise(F.lit(" order 123456789012"))
    )
    docs = base.withColumn("text", F.concat(F.col("text"), plant))
    got = sorted(
        (r.doc_id, r.n_cards, r.text) for r in card_scrub(docs).collect()
    )
    docs_src = f"""(
            SELECT doc_id,
                   text || CASE doc_id % 7
                       WHEN 0 THEN ' pay 4111111111111111.'
                       WHEN 1 THEN ' card 5500-0000-0000-0004 x'
                       WHEN 2 THEN ' ref 4111111111111112 (bad)'
                       WHEN 3 THEN ' amex 378282246310005'
                       WHEN 4 THEN ' card 4111111111119 000.'
                       WHEN 5 THEN ' pay 4111111111119 and '
                                   || 'ref 4111111111119 000'
                       ELSE ' order 123456789012' END AS text
            FROM '{path}'
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        )"""
    oracle = duckdb.connect().execute(
        card_scrub_replay_sql(docs_src) + " ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(r) for r in oracle]
    # the fixture is load-bearing in every direction
    n = {d: c for d, c, _ in got}
    assert sum(1 for d, c in n.items() if d % 7 in (0, 1, 3) and c >= 1) > 50
    assert all("4111111111111111" not in t for _, _, t in got if t)
    assert any("4111111111111112" in t for _, _, t in got if t)
    assert any("123456789012" in t for _, _, t in got if t)
    # absorbed PAN redacted, its trailing digits intact
    assert all(c >= 1 for d, c in n.items() if d % 7 == 4)
    assert any("<CARD> 000." in t for d, _, t in got if t and d % 7 == 4)
    # two sites, two counts, the non-card run's tail intact
    assert all(c >= 2 for d, c in n.items() if d % 7 == 5)
    assert any(
        "ref <CARD> 000" in t for d, _, t in got if t and d % 7 == 5
    )


def test_levenshtein_unicode_divergence_is_real(spark):
    """Pin WHY the title fixtures strip non-ASCII before levenshtein:
    DuckDB's levenshtein is BYTE-based while Spark's is
    codepoint-based ('é' vs 'e' = 2 UTF-8 bytes vs 1 codepoint).  If
    either engine ever changes semantics this fails and the strip can
    be reconsidered; until then removing the strip silently re-arms a
    corpus-regeneration divergence in dedup_edit_distance /
    pipeline_title_delta."""
    import duckdb

    assert duckdb.sql("SELECT levenshtein('é', 'e')").fetchone()[0] == 2
    got = spark.createDataFrame([("é", "e")], "a string, b string").select(
        F.levenshtein("a", "b").alias("d")
    ).collect()[0].d
    assert got == 1
