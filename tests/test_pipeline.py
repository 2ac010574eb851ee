"""End-to-end pipeline: recall ≥ 0.99 on planted dup pairs, zero forbidden
(near-miss) pairs, chain merging via CC, hot-bucket skew boundedness."""

import pandas as pd
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.operators.components import connected_components
from file_deduplicator_spark.plans.pipeline import dedup_pipeline

CFG = DedupConfig()


def _cluster_map(result) -> dict:
    pdf = result["clustered"].select("clip_id", "cluster_id").toPandas()
    return dict(zip(pdf.clip_id, pdf.cluster_id))


def test_pipeline_recall_and_precision(spark, clips_df, clips_fixture):
    result = dedup_pipeline(clips_df, CFG)
    cmap = _cluster_map(result)

    exp = clips_fixture.expected_pairs
    total, hit = 0, 0
    missed = []
    for a, b, kind in zip(exp.clip_id_a, exp.clip_id_b, exp.kind):
        if kind == "contained":
            continue  # containment edges come from the suffix-array op (separate test)
        total += 1
        if cmap.get(a) == cmap.get(b) and cmap.get(a) is not None:
            hit += 1
        else:
            missed.append((a, b, kind))
    recall = hit / total
    assert recall >= 0.99, f"recall {recall:.3f}; missed {missed[:10]}"

    # precision guard: no forbidden near-miss pair may share a cluster
    for a, b in zip(clips_fixture.forbidden_pairs.clip_id_a, clips_fixture.forbidden_pairs.clip_id_b):
        assert cmap.get(a) != cmap.get(b), f"forbidden pair clustered: {a},{b}"


def test_chain_merging(spark, clips_df, clips_fixture):
    """A≈B, B≈C ⇒ one cluster (CC transitive closure, SURVEY §7.3)."""
    result = dedup_pipeline(clips_df, CFG)
    cmap = _cluster_map(result)
    chain = clips_fixture.clips.query("scenario == 'chain'")
    # consecutive triples planted together
    ids = list(chain.clip_id)
    for i in range(0, len(ids) - 2, 3):
        a, b, c = ids[i : i + 3]
        assert cmap[a] == cmap[b] == cmap[c], (a, b, c)


def test_hot_bucket_single_cluster_and_bounded_pairs(spark, clips_df, clips_fixture):
    """1000×-identical silence: one cluster; edge list stays linear (the
    exact-dup quarantine means LSH never sees the duplicates)."""
    result = dedup_pipeline(clips_df, CFG)
    cmap = _cluster_map(result)
    hot = list(clips_fixture.clips.query("scenario == 'hot_bucket'").clip_id)
    assert len({cmap[h] for h in hot}) == 1
    n_hot = len(hot)
    n_edges = result["pairs"].count()
    n_rows = len(clips_fixture.clips)
    # linear bound: exact edges are star-shaped (n-1 per group), LSH capped
    assert n_edges < 6 * n_rows, f"{n_edges} edges for {n_rows} rows"


def test_report_and_plan_consistency(spark, clips_df):
    result = dedup_pipeline(clips_df, CFG)
    rep = result["report"].first()
    plan = result["plan"]
    assert rep.duplicate_rows == plan.count()
    # keeper never appears as a victim
    labeled = result["labeled"]
    keepers = {r.clip_id for r in labeled.filter("action='KEEP'").select("clip_id").collect()}
    victims = {r.clip_id for r in plan.select("clip_id").collect()}
    assert not keepers & victims
    # every victim row's keeper is in its own cluster
    bad = plan.filter(F.col("keeper_id").isNull()).count()
    assert bad == 0
    # the keeper_id window picks exactly the cluster's KEEP row, and the
    # plan holds exactly the DELETE rows
    keep_of = {r.cluster_id: r.clip_id
               for r in labeled.filter("action='KEEP'").select("cluster_id", "clip_id").collect()}
    for r in plan.select("cluster_id", "keeper_id").collect():
        assert r.keeper_id == keep_of[r.cluster_id], r
    deletes = {r.clip_id for r in labeled.filter("action='DELETE'").select("clip_id").collect()}
    assert victims == deletes


def test_release_pipeline_frees_every_cache(spark, clips_df):
    """The sinks read the pipeline's persisted frames (signatures, band
    tables, near-dup edges, labeled); release_pipeline frees all of them."""
    from file_deduplicator_spark.plans.pipeline import release_pipeline

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # a plan no other test caches: persist() of a plan another test left
    # cached would share that test's entry instead of adding its own
    clips = clips_df.filter(F.col("clip_id") != "")
    clips_df.count()  # the session fixture's own cache is not ours to count
    before = persisted()
    result = dedup_pipeline(clips, CFG)
    result["report"].collect()
    result["pairs"].count()
    result["plan"].count()
    assert persisted() > before
    release_pipeline(result)
    assert persisted() == before


def test_run_metrics_roundtrip(spark, clips_df, tmp_path):
    """Statistics analog: CC + bucket-skew metrics land in the metrics table
    (ref main.go:46-59, 1507-1565; VERDICT r1 item 10)."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.plans.pipeline import (
        collect_run_metrics,
        dedup_pipeline,
        release_pipeline,
    )
    from file_deduplicator_spark.sources.sinks import append_metrics

    result = dedup_pipeline(clips_df, DedupConfig())
    result["report"].collect()
    m = collect_run_metrics(result)
    assert "cc_converged" in m and "lsh_buckets" in m
    assert m["lsh_buckets"] > 0
    # the text band family reports its own bucket metrics (capped text
    # buckets are counted, not silent)
    assert m["lsh_text_buckets"] > 0
    for k in ("max_bucket", "capped_buckets", "capped_dropped_rows"):
        assert f"lsh_text_{k}" in m
    append_metrics(spark, tmp_path / "metrics", run_id=1, metrics=m)
    back = spark.read.parquet(str(tmp_path / "metrics"))
    assert back.filter("metric = 'lsh_buckets'").count() == 1
    assert back.filter("metric = 'lsh_text_buckets'").count() == 1
    release_pipeline(result)

    # perceptual off: no audio family, but the text family still reports
    result = dedup_pipeline(clips_df, DedupConfig(perceptual=False))
    result["report"].collect()
    m = collect_run_metrics(result)
    assert "lsh_buckets" not in m
    assert m["lsh_text_buckets"] > 0
    release_pipeline(result)

    # a text family that yields no pair still reports (the probe sizes the
    # band table; an Observation on the expansion lost its row here)
    unique = clips_df.filter(F.col("scenario") == "unique")
    result = dedup_pipeline(unique, DedupConfig())
    assert result["pairs"].count() == 0
    m = collect_run_metrics(result)
    assert m["lsh_text_buckets"] > 0 and m["lsh_buckets"] > 0
    assert m["lsh_text_max_bucket"] == 1
    release_pipeline(result)

    # containment is a third band family with the same four metrics
    result = dedup_pipeline(clips_df, DedupConfig(), containment=True)
    result["report"].collect()
    m = collect_run_metrics(result)
    for k in ("buckets", "max_bucket", "capped_buckets", "capped_dropped_rows"):
        assert f"containment_{k}" in m
    assert m["containment_buckets"] > 0 and m["containment_max_bucket"] > 1
    release_pipeline(result)


def test_containment_cap_loss_is_counted(spark):
    """300 clips share one 12-word transcript B and a 301st clip holds 18
    other words followed by B. B's one winnowed fingerprint makes a bucket
    of 301 members; the cap keeps the 256 lowest ids, so the container,
    which sorts last, is dropped and containment links none of the 300
    needles to it. That loss stays open (identical transcripts should enter
    containment once); this pins that the run's metrics count it instead of
    hiding it. Perceptual matching is off so that the random payloads do
    not link the clips through audio."""
    import datetime

    import numpy as np

    from file_deduplicator_spark.plans.pipeline import collect_run_metrics, release_pipeline

    rng = np.random.RandomState(3)  # a B with exactly one winnowed fingerprint
    words = list(rng.choice([f"w{i}" for i in range(5000)], size=30, replace=False))
    b = " ".join(words[:12])
    ids = [f"a{i:04d}" for i in range(300)] + ["z0001"]
    texts = [b] * 300 + [" ".join(words[12:]) + " " + b]
    t0 = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame({
        "clip_id": ids,
        "bytes": [bytearray(rng.bytes(64)) for _ in ids],
        "sr_hz": 16000, "dur_ms": 1000, "codec": "wav",
        "transcript": texts, "mtime": t0, "scenario": "item1",
    })
    df = spark.createDataFrame(
        pdf, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
             "transcript string, mtime timestamp, scenario string")
    result = dedup_pipeline(df, DedupConfig(perceptual=False), containment=True)
    result["report"].collect()
    m = collect_run_metrics(result)
    release_pipeline(result)
    assert m["containment_max_bucket"] == 301
    assert m["containment_capped_buckets"] == 1
    assert m["containment_capped_dropped_rows"] == 301 - DedupConfig().bucket_cap == 45


def test_driver_union_find_builds_no_python_rdd(spark, monkeypatch):
    """connected_components' driver path ships its labels as Arrow: nothing
    goes through sc.parallelize, not even for an edge-free batch."""
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": ["b", "c", "e"], "id_b": ["a", "b", "d"]}),
        "id_a string, id_b string")
    empty = edges.limit(0)

    def no_rdd(*a, **k):
        raise AssertionError("connected_components went through sc.parallelize")

    monkeypatch.setattr(spark.sparkContext, "parallelize", no_rdd)
    labels, metrics = connected_components(empty)
    assert labels.collect() == [] and metrics["edges"] == 0
    labels, metrics = connected_components(edges)
    got = {r.id: r.cluster_id for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    assert metrics["mode"] == "driver_union_find"


def test_append_metrics_builds_no_python_rdd(spark, tmp_path, monkeypatch):
    """The metrics frame ships to the JVM as Arrow: nothing goes through
    sc.parallelize (a second Python daemon and worker), not even for an
    empty metrics dict."""
    from file_deduplicator_spark.sources.sinks import append_metrics

    def no_rdd(*a, **k):
        raise AssertionError("append_metrics went through sc.parallelize")

    monkeypatch.setattr(spark.sparkContext, "parallelize", no_rdd)
    out = tmp_path / "metrics"
    append_metrics(spark, out, run_id=7, metrics={"a": 1, "b": 2.5, "skip": None})
    append_metrics(spark, out, run_id=8, metrics={})
    monkeypatch.undo()
    back = spark.read.parquet(str(out))
    assert back.schema.simpleString() == "struct<run_id:bigint,metric:string,value:double>"
    assert sorted(tuple(r) for r in back.collect()) == [(7, "a", 1.0), (7, "b", 2.5)]


def test_dedup_report_equals_cluster_rollup(spark, clips_df):
    """The one-aggregate report equals the sum over cluster_stats, with the
    same column types, on the pipeline's labeled frame and on an empty one."""
    from file_deduplicator_spark.operators.report import cluster_stats, dedup_report
    from file_deduplicator_spark.plans.pipeline import release_pipeline

    result = dedup_pipeline(clips_df, CFG)
    labeled = result["labeled"]
    for lab in (labeled, labeled.limit(0)):
        rollup = cluster_stats(lab).agg(
            F.count(F.lit(1)).alias("duplicate_groups"),
            F.coalesce(F.sum("duplicates"), F.lit(0)).alias("duplicate_rows"),
            F.coalesce(F.sum("reclaimable_bytes"), F.lit(0)).alias("reclaimable_bytes"),
        )
        rep = dedup_report(lab)
        assert rep.dtypes == rollup.dtypes
        assert rep.collect() == rollup.collect()
    assert dedup_report(labeled).first().duplicate_groups > 0
    release_pipeline(result)


def test_perceptual_off_skips_decode_and_keeps_text_pairs(spark, clips_df):
    """perceptual=False runs the same Arrow signature stage without the
    decode: sim_sig is null on every row, digest and minhash_sig match the
    perceptual run, and near_dup_edges still returns the text pairs."""
    from pyspark.sql import Window

    from file_deduplicator_spark.plans.pipeline import near_dup_edges, with_signatures

    def rooted(sigs):  # the digest_root column dedup_pipeline adds
        return sigs.withColumn("digest_root", F.min("clip_id").over(Window.partitionBy("digest")))

    off_cfg = DedupConfig(perceptual=False)
    cols = ["clip_id", "digest", "minhash_sig"]
    on = rooted(with_signatures(clips_df, DedupConfig()))
    off = rooted(with_signatures(clips_df, off_cfg)).persist()
    try:
        assert "bytes" not in off.columns
        assert off.filter(F.col("sim_sig").isNotNull()).count() == 0
        assert off.count() == clips_df.count()
        assert off.select(cols).exceptAll(on.select(cols)).count() == 0
        assert on.select(cols).exceptAll(off.select(cols)).count() == 0
        text_pairs = near_dup_edges(off, off_cfg).distinct()
        all_pairs = near_dup_edges(on, DedupConfig()).distinct()
        assert text_pairs.count() > 0
        assert text_pairs.exceptAll(all_pairs).count() == 0
    finally:
        off.unpersist()


def test_partition_lineage_resume_diff(spark, clips_df, tmp_path):
    """North rule: "resumable from checkpoint with per-partition lineage +
    metrics tables". Lineage rows cover every input row; an unchanged input
    diffs empty against its own recorded run; dropping rows flags exactly
    the partitions whose membership changed (the work a resume must redo)."""
    from file_deduplicator_spark.sources.sinks import (
        append_partition_lineage,
        changed_partitions,
        partition_lineage,
    )

    lin_dir = tmp_path / "partitions"
    n_parts = append_partition_lineage(clips_df, lin_dir, run_id=7)
    back = spark.read.parquet(str(lin_dir))
    assert back.count() == n_parts
    # lineage accounts for every input row, no partition double-counted
    total = back.agg(F.sum("rows")).first()[0]
    assert total == clips_df.count()
    assert back.select("part").distinct().count() == n_parts

    # identical input → empty resume diff (prior outputs reusable)
    assert changed_partitions(spark, clips_df, lin_dir, run_id=7).count() == 0

    # membership change → exactly the touched partitions flagged; the
    # checksum (sum of xxhash64) catches same-count swaps too
    cur = partition_lineage(clips_df)
    victim = clips_df.limit(1).select("clip_id").first()[0]
    mutated = clips_df.where(F.col("clip_id") != victim)
    diff = changed_partitions(spark, mutated, lin_dir, run_id=7).collect()
    assert len(diff) >= 1
    for row in diff:
        assert row.prev_rows is None or row.cur_rows is None or (
            row.prev_rows != row.cur_rows or row.prev_checksum != row.cur_checksum
        )


import pytest as _pytest


@_pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_basic(spark, driver_threshold):
    """Both strategies: driver union-find (small edge lists) and the
    distributed min-label loop (driver_threshold=0 forces it)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")],
        "id_a string, id_b string",
    )
    labels, metrics = connected_components(edges, driver_threshold=driver_threshold)
    pdf = labels.toPandas().set_index("id").cluster_id
    assert pdf["a"] == pdf["b"] == pdf["c"] == "a"
    assert pdf["x"] == pdf["y"] == "x"
    assert pdf["p"] == pdf["q"] == pdf["r"] == pdf["s"] == "p"
    assert metrics["converged"]
    expected_mode = "driver_union_find" if driver_threshold else "distributed_two_phase"
    assert metrics.get("mode") == expected_mode


@_pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_cc_long_chain_converges(spark, driver_threshold):
    """Pathological 64-node path graph — label propagation must still finish
    within the iteration bound (doubling takes log2(64)=6+ rounds)."""
    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "id_a string, id_b string"
    )
    labels, metrics = connected_components(
        edges, max_iters=80, driver_threshold=driver_threshold
    )
    assert metrics["converged"], metrics
    pdf = labels.toPandas()
    assert set(pdf.cluster_id) == {"n000"}


def test_cc_checkpoint_fallback_path_converges(spark, monkeypatch):
    """Round-2 verdict directive: the distributed loop must also converge
    within budget on the plain localCheckpoint FALLBACK (the private-API
    detached checkpoint can vanish on Spark Connect / future versions)."""
    import os as _os

    import file_deduplicator_spark.operators.components as comp

    monkeypatch.setitem(_os.environ, "SPARK_GRAFT_FORCE_CKPT_FALLBACK", "1")
    monkeypatch.setattr(comp, "_CKPT_PATH_ACTIVE", None)
    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "id_a string, id_b string"
    )
    labels, metrics = connected_components(edges, max_iters=80, driver_threshold=0)
    assert metrics["converged"], metrics
    assert set(labels.toPandas().cluster_id) == {"n000"}
    assert comp._CKPT_PATH_ACTIVE == "fallback"


def test_bucket_members_adaptive_shortcut(spark):
    """A measured skew-free max_bucket takes the single-shuffle plain path;
    without one, salt > 1 runs the salted topology. Both topologies must
    produce identical capped member lists and true bucket sizes."""
    from file_deduplicator_spark.operators.lsh import bucket_members

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    # skew-free: 100 buckets of 3 members (cap 8)
    rows = [(f"id{i:04d}", 0, i % 100) for i in range(300)]
    cold = spark.createDataFrame(rows, "id string, band int, bh long")
    plain = bucket_members(cold, cap=8, salt=1).orderBy("bh").collect()
    adaptive_df = bucket_members(cold, cap=8, salt=16, max_bucket=3)
    assert "_salt" not in plan(adaptive_df)
    adaptive = adaptive_df.orderBy("bh").collect()
    assert [r.ids for r in adaptive] == [r.ids for r in plain]
    assert all(r.bucket_n == 3 for r in adaptive)

    # one hot bucket (40 > cap 8) among cold ones
    rows = [(f"h{i:03d}", 0, 7) for i in range(40)] + [
        (f"c{i:03d}", 0, 100 + i % 5) for i in range(15)
    ]
    hot = spark.createDataFrame(rows, "id string, band int, bh long")
    salted_df = bucket_members(hot, cap=8, salt=4)
    salted_plan = plan(salted_df)
    # the salted topology really runs: salt shards + cold/hot key split
    assert "_salt" in salted_plan and "LeftAnti" in salted_plan
    salted = {r.bh: r for r in salted_df.collect()}
    unsalted = {r.bh: r for r in bucket_members(hot, cap=8, salt=1).collect()}
    assert salted.keys() == unsalted.keys()
    for bh in salted:
        # salted merge is exact: cap lowest ids survive, true size reported
        assert salted[bh].ids == unsalted[bh].ids
        assert salted[bh].bucket_n == unsalted[bh].bucket_n
    assert salted[7].bucket_n == 40 and len(salted[7].ids) == 8
    assert salted[7].ids == sorted(f"h{i:03d}" for i in range(40))[:8]


def test_bucket_pairs_matches_brute_force(spark):
    """bucket_pairs against a Python all-pairs reference on a hand-made
    band table: multi-band collisions emit once, a capped bucket pairs only
    its cap lowest ids, hamming_within keeps distance t and drops t + 1,
    and a payload-carrying table without ``keep`` still yields bare ids."""
    from itertools import combinations

    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.operators.lsh import bucket_pairs, hamming_within

    cap, t = 4, 3
    cfg = DedupConfig(bucket_cap=cap, salt_buckets=1)
    sig = {"a": 0, "b": 0b111, "c": 0b1111}  # d(a,b)=3=t, d(a,c)=4=t+1, d(b,c)=1
    rows = [(i, band, 1) for i in ("a", "b", "c") for band in range(3)]  # 3 bands
    big = [f"m{i}" for i in range(cap + 3)]
    sig.update({m: 0 for m in big})
    rows += [(m, 9, 2) for m in big]  # one bucket of cap + 3 members
    rows += [("a", 5, 3)]  # singleton bucket: no pairs
    bands = spark.createDataFrame(
        [(i, band, bh, sig[i]) for i, band, bh in rows],
        "id string, band int, bh long, sig long",
    )

    def reference(keep=lambda x, y: True):
        buckets: dict = {}
        for i, band, bh in rows:
            buckets.setdefault((band, bh), []).append(i)
        return {(x, y) for ms in buckets.values()
                for x, y in combinations(sorted(ms)[:cap], 2) if keep(x, y)}

    def got(df):
        out = df.collect()
        assert len(out) == len({(r.id_a, r.id_b) for r in out})  # distinct
        return {(r.id_a, r.id_b) for r in out}

    plain_df = bucket_pairs(bands, cfg)
    assert dict(plain_df.dtypes) == {"id_a": "string", "id_b": "string"}
    plain = got(plain_df)
    assert plain == reference()
    assert {("a", "b"), ("a", "c"), ("b", "c")} <= plain  # 3 bands, once each
    kept = sorted(big)[:cap]
    assert {p for p in plain if p[0].startswith("m")} == set(combinations(kept, 2))

    fused = got(bucket_pairs(bands, cfg, hamming_within(t)))
    assert fused == reference(lambda x, y: bin(sig[x] ^ sig[y]).count("1") <= t)
    assert ("a", "b") in fused and ("a", "c") not in fused


def test_image_payloads_cluster_through_the_one_pipeline(spark):
    """Batch image dedup runs through the same signature stage as audio:
    one textured image stored as PPM, BMP and PNG decodes to identical
    pixels, so all three share a cluster; an unrelated noise image and an
    undecodable payload stay singletons, and the undecodable row keeps a
    null sim_sig."""
    import numpy as np

    from file_deduplicator_spark.functions.image import bmp_encode, ppm_encode
    from file_deduplicator_spark.functions.png_gif import png_encode

    rng = np.random.RandomState(17)
    # 8x8 random blocks upsampled to 64x64 plus a diagonal ramp: textured,
    # so its hash is not the near-zero hash every flat image shares
    blocks = np.kron(rng.randint(0, 256, size=(8, 8, 3)), np.ones((8, 8, 1)))
    ramp = np.add.outer(np.arange(64), np.arange(64))[:, :, None] // 2
    img = ((blocks + ramp) % 256).astype(np.uint8)
    noise = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)
    rows = [
        ("img_ppm", ppm_encode(img), "ppm", "first transcript about red boats"),
        ("img_bmp", bmp_encode(img), "bmp", "second transcript on green hills"),
        ("img_png", png_encode(img), "png", "third transcript near blue lakes"),
        ("noise", ppm_encode(noise), "ppm", "fourth transcript with grey skies"),
        ("broken", b"not an image", "ppm", "fifth transcript under white snow"),
    ]
    df = spark.createDataFrame(
        [(cid, bytearray(b), 0, 0, codec, txt) for cid, b, codec, txt in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string",
    )
    result = dedup_pipeline(df, CFG)
    got = {r.clip_id: r for r in result["clustered"].collect()}
    assert got["img_ppm"].cluster_id == got["img_bmp"].cluster_id == got["img_png"].cluster_id
    others = {got[c].cluster_id for c in ("img_ppm", "noise", "broken")}
    assert len(others) == 3, "noise and broken rows must be singletons"
    assert got["broken"].sim_sig is None
    assert got["img_ppm"].sim_sig is not None and got["noise"].sim_sig is not None
