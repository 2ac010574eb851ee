"""Incremental ("watch mode") dedup tests: snapshot source, state bootstrap,
new-arrival-is-victim, exact + similar matching, resumable checkpoints.

Mirrors reference semantics: initialScan (main.go:1757-1826), processNewFiles
(main.go:1829-1921), new-file-is-victim (SURVEY §2.7 note)."""

import numpy as np
import pytest
from pyspark.sql import types as T

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.datagen import _synth_pcm
from file_deduplicator_spark.functions.audio import wav_encode
from file_deduplicator_spark.sources import iceberg_lite
from file_deduplicator_spark.streaming.watch import process_new_snapshots, read_checkpoint

CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)


def _row(cid, pcm, sr, txt):
    return (cid, bytearray(wav_encode(pcm, sr)), sr, int(len(pcm) / sr * 1000), "wav", txt)


@pytest.fixture()
def watch_env(spark, tmp_path):
    rng = np.random.RandomState(7)
    base = _synth_pcm(rng, 16000, 600)
    other = _synth_pcm(rng, 16000, 500)
    third = _synth_pcm(rng, 16000, 700)
    src = tmp_path / "clips_table"
    state = tmp_path / "state"

    batch0 = spark.createDataFrame(
        [
            _row("clip_a", base, 16000, "the quick brown fox jumps over the lazy dog today"),
            _row("clip_b", other, 16000, "совершенно другие слова здесь"),
        ],
        CLIP_SCHEMA,
    )
    iceberg_lite.append_snapshot(batch0, src)
    return {"src": src, "state": state, "base": base, "other": other, "third": third}


def test_bootstrap_then_exact_match(spark, watch_env):
    cfg = DedupConfig()
    env = watch_env
    s0 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s0["new_rows"] == 2 and s0["alerts"] == 0

    # idempotent no-op when nothing new
    s_noop = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s_noop["new_rows"] == 0 and s_noop["actions"] == 0

    # new arrival byte-identical to clip_a → exact alert, new id is victim
    batch1 = spark.createDataFrame(
        [_row("clip_c", env["base"], 16000,
              "the quick brown fox jumps over the lazy dog today")],
        CLIP_SCHEMA,
    )
    iceberg_lite.append_snapshot(batch1, env["src"])
    s1 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s1["new_rows"] == 1 and s1["alerts"] >= 1

    alerts = spark.read.parquet(str(env["state"] / "alerts")).toPandas()
    exact = alerts.query("match_kind == 'exact'")
    assert list(exact.new_id) == ["clip_c"]          # the NEW file is the victim
    assert list(exact.matched_id) == ["clip_a"]      # keeper = pre-existing


def test_similar_audio_and_text_match(spark, watch_env):
    cfg = DedupConfig()
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)

    # +2 dB gain copy of clip_a, same transcript → similar_audio + similar_text
    g = 10 ** (2.0 / 20.0)
    batch = spark.createDataFrame(
        [_row("clip_d", np.clip(env["base"] * g, -1, 1), 16000,
              "the quick brown fox jumps over the lazy dog today")],
        CLIP_SCHEMA,
    )
    iceberg_lite.append_snapshot(batch, env["src"])
    s = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s["alerts"] >= 1
    alerts = spark.read.parquet(str(env["state"] / "alerts")).toPandas()
    kinds = set(alerts.match_kind)
    assert "similar_audio" in kinds
    assert "similar_text" in kinds
    assert set(alerts.new_id) == {"clip_d"}
    assert set(alerts.matched_id) == {"clip_a"}


def test_checkpoint_resume(spark, watch_env):
    cfg = DedupConfig()
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)
    ck = read_checkpoint(env["state"])
    assert ck["last_source_snapshot"] == 0 and ck["batches"] == 1

    iceberg_lite.append_snapshot(
        spark.createDataFrame([_row("clip_e", env["third"], 16000, "novel words")], CLIP_SCHEMA),
        env["src"],
    )
    iceberg_lite.append_snapshot(
        spark.createDataFrame([_row("clip_f", env["third"], 16000, "novel words")], CLIP_SCHEMA),
        env["src"],
    )
    # one batch consumes BOTH pending snapshots; clip_f dups clip_e within batch
    s = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s["new_rows"] == 2
    ck2 = read_checkpoint(env["state"])
    assert ck2["last_source_snapshot"] == 2 and ck2["batches"] == 2
    alerts = spark.read.parquet(str(env["state"] / "alerts")).toPandas()
    ex = alerts.query("match_kind == 'exact'")
    assert ("clip_f" in set(ex.new_id)) and ("clip_e" in set(ex.matched_id))


def test_watch_filters_new_arrivals(spark, watch_env):
    """F6 (ref main.go:1683-1704): out-of-policy arrivals are dropped by the
    same size/codec filters the batch path applies."""
    cfg = DedupConfig(codec_filter=("wav",))
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)

    batch = spark.createDataFrame(
        [
            # byte-identical to clip_a but codec out of policy → must NOT alert
            ("clip_x", bytearray(wav_encode(env["base"], 16000)), 16000, 600,
             "flac", "the quick brown fox jumps over the lazy dog today"),
        ],
        CLIP_SCHEMA,
    )
    iceberg_lite.append_snapshot(batch, env["src"])
    s = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s["new_rows"] == 0 and s["alerts"] == 0


def test_watch_auto_clean_actions(spark, watch_env):
    """T5 handleAutoClean (ref main.go:1952-1984): alerted arrivals get an
    action row (new arrival = victim); no silent deletes."""
    cfg = DedupConfig(watch_auto_clean=True, watch_clean_action="move",
                      watch_move_to="/qz")
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)

    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [_row("clip_c", env["base"], 16000,
                  "the quick brown fox jumps over the lazy dog today")],
            CLIP_SCHEMA,
        ),
        env["src"],
    )
    s = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert s["alerts"] >= 1 and s["actions"] == 1
    actions = spark.read.parquet(str(env["state"] / "actions")).toPandas()
    assert list(actions.clip_id) == ["clip_c"]
    assert list(actions.keeper_id) == ["clip_a"]
    assert list(actions.action) == ["move"]
    assert list(actions.target) == ["/qz/clip_c"]


def test_watch_replay_is_idempotent(spark, watch_env):
    """Crash between state append and checkpoint write: the replayed batch
    must not duplicate state rows nor self-match its own rows."""
    import json

    cfg = DedupConfig()
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)

    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [_row("clip_c", env["base"], 16000,
                  "the quick brown fox jumps over the lazy dog today")],
            CLIP_SCHEMA,
        ),
        env["src"],
    )
    s1 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    state_rows = iceberg_lite.read_table(spark, env["state"] / "signatures").count()

    # simulate the crash: rewind the engine checkpoint to before the batch
    ckpt_path = env["state"] / "_checkpoint.json"
    ck = json.loads(ckpt_path.read_text())
    ck["last_source_snapshot"] -= 1
    ck["batches"] -= 1
    ckpt_path.write_text(json.dumps(ck))

    s2 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    # state not re-appended; alerts identical to the first run (no clip_c →
    # clip_c self-match rows)
    assert iceberg_lite.read_table(spark, env["state"] / "signatures").count() == state_rows
    assert s2["alerts"] == s1["alerts"]
    alerts = spark.read.parquet(str(env["state"] / "alerts")).toPandas()
    assert not ((alerts.new_id == alerts.matched_id).any())


def test_watch_empty_transcripts_never_text_match(spark, watch_env):
    """Two unrelated silent/blank-transcript clips share the degenerate
    all-EMPTY_SLOT MinHash signature — they must NOT raise similar_text."""
    cfg = DedupConfig()
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)

    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [
                _row("clip_s1", env["third"], 16000, "   "),
                _row("clip_s2", env["other"] * 0.5, 16000, ""),
            ],
            CLIP_SCHEMA,
        ),
        env["src"],
    )
    s = process_new_snapshots(spark, env["src"], env["state"], cfg)
    alerts_dir = env["state"] / "alerts"
    if alerts_dir.exists():
        alerts = spark.read.parquet(str(alerts_dir)).toPandas()
        assert "similar_text" not in set(
            alerts.query("new_id in ('clip_s1','clip_s2')").match_kind
        )


def test_watch_state_is_signatures_table_only(spark, watch_env):
    """Every commit matches against the `signatures` snapshot table itself:
    after bootstrap + 2 auto-clean commits the state dir holds only the
    checkpoint, that table and the per-batch alerts/actions — no
    hash-bucket-partitioned index directories."""
    cfg = DedupConfig(watch_auto_clean=True)
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)
    g = 10 ** (2.0 / 20.0)
    commits = [
        [_row("clip_c", env["base"], 16000,
              "the quick brown fox jumps over the lazy dog today")],       # exact dup
        [_row("clip_d", np.clip(env["base"] * g, -1, 1), 16000,
              "the quick brown fox jumps over the lazy dog today"),        # near dup
         _row("clip_e", env["third"], 16000, "entirely novel content here")],
    ]
    for rows in commits:
        iceberg_lite.append_snapshot(spark.createDataFrame(rows, CLIP_SCHEMA), env["src"])
        s = process_new_snapshots(spark, env["src"], env["state"], cfg)
        assert s["alerts"] >= 1 and s["actions"] == 1

    state = env["state"]
    assert {p.name for p in state.iterdir()} == {
        "_checkpoint.json", "signatures", "alerts", "actions"}
    paths = [str(p.relative_to(state)) for p in state.rglob("*")]
    assert not [p for p in paths
                if any(k in p for k in ("pbkt=", "dbkt=", "sbkt="))]
    # the state is an Iceberg table with one snapshot per batch, each tagged
    # with the source snapshot it ingested
    assert iceberg_lite.is_iceberg_table(state / "signatures")
    summaries = iceberg_lite.snapshot_summaries(state / "signatures")
    assert [(m["snapshot_id"], m["source_snapshot"]) for m in summaries] == [
        (0, "0"), (1, "1"), (2, "2")]


def test_watch_refuses_json_snapshot_log_state(spark, watch_env):
    """A `signatures` dir in the retired JSON snapshot-log format (a
    `_snapshots.json` log over parquet files, next to a checkpoint that
    passes every other guard) is neither read nor bootstrapped over: the
    batch raises and asks for a rebuild."""
    import json

    from file_deduplicator_spark.functions.audio import SIG_KERNEL_VERSION

    env = watch_env
    ckpt = {"last_source_snapshot": 0, "batches": 1,
            "sig_kernel_version": SIG_KERNEL_VERSION,
            "sim_algo": "dhash", "hash_algo": "sha256"}
    env["state"].mkdir()
    (env["state"] / "_checkpoint.json").write_text(json.dumps(ckpt))
    old = env["state"] / "signatures"
    data = old / "data" / "snap-000000"
    spark.createDataFrame(
        [("clip_z", "d", 1)], "clip_id string, digest string, size long"
    ).write.parquet(str(data))
    files = sorted(str(f) for f in data.glob("*.parquet"))
    (old / "_snapshots.json").write_text(json.dumps(
        [{"snapshot_id": 0, "files": files, "row_count": 1, "source_snapshot": 0}]))
    with pytest.raises(ValueError, match="not an Iceberg table"):
        process_new_snapshots(spark, env["src"], env["state"], DedupConfig())
    assert read_checkpoint(env["state"]) == ckpt


def test_watch_image_arrival_matches_persisted_image_state(spark, tmp_path):
    """Round-4 directive 8: the watch perceptual channel serves images too —
    a near-dup PPM arrival must be flagged against persisted image
    signatures (the reference's watch mode checks pHash matches per
    arrival, main.go:1874-1886)."""
    from file_deduplicator_spark.functions.image import ppm_encode

    rng = np.random.RandomState(55)
    img = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)
    # mild brightness shift — a near-dup, not byte-identical (different
    # digest, Hamming-close perceptual signature)
    near = np.clip(img.astype(np.int16) + 6, 0, 255).astype(np.uint8)
    far = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)

    src = tmp_path / "media_table"
    state = tmp_path / "state"
    cfg = DedupConfig()

    def irow(mid, arr, txt):
        return (mid, bytearray(ppm_encode(arr)), 0, 0, "ppm", txt)

    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [irow("img_a", img, "a sunny hillside photo"),
             irow("img_b", far, "unrelated picture entirely")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s0 = process_new_snapshots(spark, src, state, cfg)
    assert s0["new_rows"] == 2 and s0["alerts"] == 0

    # image signatures really persisted (not nulls from decode failure)
    sig_state = iceberg_lite.read_table(spark, state / "signatures").toPandas()
    assert sig_state.sim_sig.notna().all()

    iceberg_lite.append_snapshot(
        spark.createDataFrame([irow("img_c", near, "completely new caption")], CLIP_SCHEMA),
        src,
    )
    s1 = process_new_snapshots(spark, src, state, cfg)
    assert s1["alerts"] >= 1
    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    sim = alerts.query("match_kind == 'similar_audio'")  # the shared
    # perceptual channel — kind name kept for state compatibility
    assert list(sim.new_id) == ["img_c"]
    assert list(sim.matched_id) == ["img_a"]


def test_watch_kernel_guard_defaults_v1_when_state_without_checkpoint(spark, tmp_path):
    """Round-3 advice: signature state on disk WITHOUT a checkpoint marker
    (crash between the signatures append and the checkpoint write) must be
    treated as kernel v1, not current — the guard must trip."""
    from file_deduplicator_spark.functions.audio import SIG_KERNEL_VERSION

    src = tmp_path / "src_table"
    state = tmp_path / "state"
    rng = np.random.RandomState(3)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [_row("c1", _synth_pcm(rng, 16000, 300), 16000, "hello world sample")],
            CLIP_SCHEMA,
        ),
        src,
    )
    cfg = DedupConfig()
    process_new_snapshots(spark, src, state, cfg)
    # simulate the crash: state artifacts persist, checkpoint lost
    (state / "_checkpoint.json").unlink()
    if SIG_KERNEL_VERSION != 1:
        with pytest.raises(ValueError, match="signature kernel"):
            process_new_snapshots(spark, src, state, cfg)


@pytest.mark.parametrize("setting", [{"sim_algo": "phash"}, {"hash_algo": "md5"}])
def test_watch_state_refuses_other_signature_settings(spark, watch_env, setting):
    """State bootstrapped with the defaults records sim_algo and hash_algo;
    a commit processed with another value raises instead of comparing
    incomparable signatures (md5 digests never exact-match sha256 ones,
    phash sims against dhash state give wrong audio alerts). A checkpoint
    written before the guard, without the keys, is still accepted."""
    import json

    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], DedupConfig())
    ck = read_checkpoint(env["state"])
    assert (ck["sim_algo"], ck["hash_algo"]) == ("dhash", "sha256")
    iceberg_lite.append_snapshot(
        spark.createDataFrame([_row("clip_e", env["third"], 16000, "novel words")], CLIP_SCHEMA),
        env["src"],
    )
    with pytest.raises(ValueError, match=next(iter(setting))):
        process_new_snapshots(spark, env["src"], env["state"], DedupConfig(**setting))
    assert read_checkpoint(env["state"]) == ck  # nothing committed

    # a pre-guard checkpoint: accepted, and it gains the keys on its write
    ckpt_path = env["state"] / "_checkpoint.json"
    ckpt_path.write_text(json.dumps({k: v for k, v in ck.items()
                                     if k not in ("sim_algo", "hash_algo")}))
    s = process_new_snapshots(spark, env["src"], env["state"], DedupConfig(**setting))
    assert s["new_rows"] == 1
    assert read_checkpoint(env["state"])[next(iter(setting))] == next(iter(setting.values()))


def test_watch_image_arrival_matches_persisted_image(spark, tmp_path):
    """Round-4 directive 8: the image modality rides the watch/incremental
    path. The sniffing signature dispatch (udfs.media_sig_from_bytes) gives
    image payloads a 64-bit perceptual hash through the SAME sim_sig column
    and band-indexed state the audio channel uses — the reference's watch
    mode checks pHash matches per arrival the same way (main.go:1874-1886).
    A BMP re-encode of a persisted PPM decodes to identical pixels →
    identical dHash (Hamming 0) → band join flags it; an unrelated noise
    image (dHash distance 30 from the gradient) must NOT alert."""
    from file_deduplicator_spark.functions.image import bmp_encode, ppm_encode

    n = 200
    x = np.arange(n)[None, :].repeat(n, axis=0)
    y = np.arange(n)[:, None].repeat(n, axis=1)
    grad = np.stack(
        [(x * 255) // n, (y * 255) // n, ((x + y) * 255) // (2 * n)], axis=2
    ).astype(np.uint8)
    noise = np.random.RandomState(3).randint(0, 256, (n, n, 3)).astype(np.uint8)

    src = tmp_path / "clips_table"
    state = tmp_path / "state"
    cfg = DedupConfig()

    def img_row(cid, payload, codec, txt):
        return (cid, bytearray(payload), 0, 0, codec, txt)

    # mixed-modality bootstrap: one image + one audio clip in the same state
    rng = np.random.RandomState(5)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [img_row("img_grad", ppm_encode(grad), "ppm", "a colorful gradient"),
             _row("aud_a", _synth_pcm(rng, 16000, 500), 16000, "spoken words here")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s0 = process_new_snapshots(spark, src, state, cfg)
    assert s0["new_rows"] == 2 and s0["alerts"] == 0

    # arrivals: a lossless BMP re-encode of the stored PPM (near-dup) and an
    # unrelated noise image (must not match anything)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [img_row("img_dup", bmp_encode(grad), "bmp", "different words entirely"),
             img_row("img_noise", ppm_encode(noise), "ppm", "third transcript text")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s1 = process_new_snapshots(spark, src, state, cfg)
    assert s1["new_rows"] == 2 and s1["alerts"] >= 1
    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    sim = alerts.query("match_kind == 'similar_audio'")  # shared sig channel
    assert ("img_dup", "img_grad") in set(zip(sim.new_id, sim.matched_id))
    assert "img_noise" not in set(alerts.new_id)
    assert not ((alerts.new_id == "img_dup") & (alerts.matched_id == "aud_a")).any()


def test_watch_flac_transcode_arrival_matches_persisted_wav(spark, tmp_path):
    """A FLAC transcode arriving after its WAV sibling was ingested must be
    flagged against the persisted state: lossless decode reproduces the
    exact int16 samples, so the new arrival's signature equals the stored
    one (Hamming 0) and the band join finds it — no re-decode of state."""
    from file_deduplicator_spark.functions.audio import wav_decode
    from file_deduplicator_spark.functions.flac import flac_encode

    rng = np.random.RandomState(11)
    pcm = _synth_pcm(rng, 16000, 600)
    other = _synth_pcm(rng, 16000, 500)

    src = tmp_path / "clips_table"
    state = tmp_path / "state"
    cfg = DedupConfig()

    wav = wav_encode(pcm, 16000)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [("w_orig", bytearray(wav), 16000, 600, "wav", "original spoken words"),
             _row("w_other", other, 16000, "unrelated second clip text")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s0 = process_new_snapshots(spark, src, state, cfg)
    assert s0["new_rows"] == 2 and s0["alerts"] == 0

    # transcode the EXACT stored samples (what a real WAV->FLAC job does)
    s16 = np.round(wav_decode(wav)[0] * 32767.0).astype(np.int16)
    fl = flac_encode(s16, 16000)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [("f_dup", bytearray(fl), 16000, 600, "flac", "different transcript text")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s1 = process_new_snapshots(spark, src, state, cfg)
    assert s1["alerts"] >= 1
    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    sim = alerts.query("match_kind == 'similar_audio'")
    assert ("f_dup", "w_orig") in set(zip(sim.new_id, sim.matched_id))


def test_watch_aiff_and_adpcm_arrivals_match_persisted_wav(spark, tmp_path):
    """Round-4 codecs ride the same signature dispatch, so the watch tier
    flags them with no new code: a lossless AIFF transcode matches at
    Hamming 0; an IMA-ADPCM transcode lands within the threshold."""
    from file_deduplicator_spark.functions.audio import wav_decode
    from file_deduplicator_spark.functions.pcm_codecs import (
        adpcm_encode_bytes,
        aiff_encode_s16,
    )

    rng = np.random.RandomState(12)
    pcm = _synth_pcm(rng, 16000, 600)
    other = _synth_pcm(rng, 16000, 500)

    src = tmp_path / "clips_table"
    state = tmp_path / "state"
    cfg = DedupConfig()

    wav = wav_encode(pcm, 16000)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [("w_orig", bytearray(wav), 16000, 600, "wav", "original spoken words"),
             _row("w_other", other, 16000, "unrelated second clip text")],
            CLIP_SCHEMA,
        ),
        src,
    )
    s0 = process_new_snapshots(spark, src, state, cfg)
    assert s0["alerts"] == 0

    dec = wav_decode(wav)[0]
    s16 = np.round(dec * 32767.0).astype(np.int16)
    arrivals = [
        ("aiff_dup", aiff_encode_s16(s16, 16000), "aiff"),
        ("adpcm_dup", adpcm_encode_bytes(dec, 16000), "adpcm_ima_wav"),
    ]
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [(cid, bytearray(buf), 16000, 600, codec, f"text of {cid}")
             for cid, buf, codec in arrivals],
            CLIP_SCHEMA,
        ),
        src,
    )
    s1 = process_new_snapshots(spark, src, state, cfg)
    assert s1["alerts"] >= 2
    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    sim = set(zip(alerts.new_id, alerts.matched_id))
    assert ("aiff_dup", "w_orig") in sim
    assert ("adpcm_dup", "w_orig") in sim


def test_watch_replay_of_within_batch_duplicates_is_idempotent(spark, watch_env):
    """Two byte-identical arrivals in one commit: the later id is the victim.
    A replay after a crash between the state append and the checkpoint finds
    both rows in state; it must alert exactly as the first run did, not on
    each pair in both directions (which would mark the keeper for removal
    too)."""
    import json

    cfg = DedupConfig(watch_auto_clean=True)
    env = watch_env
    process_new_snapshots(spark, env["src"], env["state"], cfg)
    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [_row(cid, env["third"], 16000, "identical words in both copies")
             for cid in ("x1", "x2")],
            CLIP_SCHEMA,
        ),
        env["src"],
    )

    def outputs():
        alerts = spark.read.parquet(str(env["state"] / "alerts" / "batch=1")).toPandas()
        actions = spark.read.parquet(str(env["state"] / "actions" / "batch=1")).toPandas()
        return (sorted(zip(alerts.new_id, alerts.matched_id, alerts.match_kind)),
                sorted(zip(actions.clip_id, actions.keeper_id, actions.action)))

    s1 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    first = outputs()
    assert first[0] == [("x2", "x1", k) for k in ("exact", "similar_audio", "similar_text")]
    assert first[1] == [("x2", "x1", "remove")]

    ckpt_path = env["state"] / "_checkpoint.json"
    ck = json.loads(ckpt_path.read_text())
    ck["last_source_snapshot"] -= 1
    ck["batches"] -= 1
    ckpt_path.write_text(json.dumps(ck))

    s2 = process_new_snapshots(spark, env["src"], env["state"], cfg)
    assert outputs() == first
    assert (s2["alerts"], s2["actions"]) == (s1["alerts"], s1["actions"]) == (3, 1)


def test_watch_batch_replays_over_orphan_snapshot_dir(spark, watch_env, tmp_path):
    """A batch that died inside the state append leaves the next snapshot's
    data dir without metadata. The replay overwrites that orphan and alerts
    exactly as an uninterrupted run does."""
    import shutil

    cfg = DedupConfig()
    env = watch_env
    clean = tmp_path / "clean_state"
    for state in (env["state"], clean):
        process_new_snapshots(spark, env["src"], state, cfg)
    data = env["state"] / "signatures" / "data"
    shutil.copytree(data / "snap-000000", data / "snap-000001")

    iceberg_lite.append_snapshot(
        spark.createDataFrame(
            [_row("clip_c", env["base"], 16000,
                  "the quick brown fox jumps over the lazy dog today")],
            CLIP_SCHEMA,
        ),
        env["src"],
    )

    def alerts(state):
        s = process_new_snapshots(spark, env["src"], state, cfg)
        df = spark.read.parquet(str(state / "alerts")).toPandas()
        return s["alerts"], sorted(zip(df.new_id, df.matched_id, df.match_kind))

    got, want = alerts(env["state"]), alerts(clean)
    assert got == want and want[0] >= 1
    assert iceberg_lite.read_table(spark, env["state"] / "signatures").count() == 3


def test_watch_arrival_sorting_below_its_state_match_is_the_victim(spark, tmp_path):
    """Inside an id-sorted bucket the arrival may come first: it is still the
    victim and the state row the keeper."""
    rng = np.random.RandomState(9)
    pcm = _synth_pcm(rng, 16000, 500)
    src, state = tmp_path / "src", tmp_path / "state"
    cfg = DedupConfig(watch_auto_clean=True)
    txt = "one transcript shared by the stored clip and its copy"
    iceberg_lite.append_snapshot(
        spark.createDataFrame([_row("z999", pcm, 16000, txt)], CLIP_SCHEMA), src)
    process_new_snapshots(spark, src, state, cfg)
    iceberg_lite.append_snapshot(
        spark.createDataFrame([_row("a000", pcm * 0.5, 16000, txt)], CLIP_SCHEMA), src)
    s = process_new_snapshots(spark, src, state, cfg)

    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    assert sorted(zip(alerts.new_id, alerts.matched_id, alerts.match_kind)) == [
        ("a000", "z999", "similar_audio"), ("a000", "z999", "similar_text")]
    actions = spark.read.parquet(str(state / "actions")).toPandas()
    assert list(zip(actions.clip_id, actions.keeper_id)) == [("a000", "z999")]
    assert s["actions"] == 1


def test_watch_hot_state_bucket_is_capped_and_counted(spark, tmp_path):
    """Six state clips share one audio signature (one PCM as WAV, as FLAC and
    at four gains: distinct digests, equal sim_sig), so each of the audio
    band buckets they fall in is hot. Two arrivals with that signature join
    them: 8 members per bucket against bucket_cap=4.

    What the cap does to alerts: members sort new-first, so each bucket
    keeps both arrivals and the 2 lowest state ids. Every arrival is still
    alerted, and keeps the keeper an uncapped run gives it (h0 → h1, h9 → h0),
    but against fewer matches: h0 against h1-h2 (uncapped h1-h6), h9 against
    h0-h2 (uncapped h0-h6). The commit's stats count it: every capped bucket
    drops 8 - 4 = 4 rows."""
    from file_deduplicator_spark.functions.audio import wav_decode
    from file_deduplicator_spark.functions.flac import flac_encode

    rng = np.random.RandomState(21)
    pcm = _synth_pcm(rng, 16000, 600)
    wav = wav_encode(pcm, 16000)
    s16 = np.round(wav_decode(wav)[0] * 32767.0).astype(np.int16)

    words = iter(["amber basin", "cobalt drift", "ember fjord", "garnet hollow",
                  "indigo jetty", "kelp lantern", "mossy nectar", "onyx prairie"])

    def clip(cid, payload, codec):
        return (cid, bytearray(payload), 16000, 600, codec, f"{next(words)} {cid} spoken")

    stored = [clip("h1", wav, "wav"), clip("h2", flac_encode(s16, 16000), "flac")] + [
        clip(f"h{i}", wav_encode(pcm * g, 16000), "wav")
        for i, g in ((3, 0.9), (4, 0.8), (5, 0.7), (6, 0.6))]
    src, state = tmp_path / "src", tmp_path / "state"
    cfg = DedupConfig(bucket_cap=4, watch_auto_clean=True)
    iceberg_lite.append_snapshot(spark.createDataFrame(stored, CLIP_SCHEMA), src)
    process_new_snapshots(spark, src, state, cfg)
    assert iceberg_lite.read_table(spark, state / "signatures").select(
        "sim_sig").distinct().count() == 1

    iceberg_lite.append_snapshot(spark.createDataFrame(
        [clip("h0", wav_encode(pcm * 0.5, 16000), "wav"),
         clip("h9", wav_encode(pcm * 0.4, 16000), "wav")], CLIP_SCHEMA), src)
    s = process_new_snapshots(spark, src, state, cfg)

    assert s["lsh_max_bucket"] == 8
    assert s["lsh_capped_buckets"] >= 1
    assert s["lsh_capped_dropped_rows"] == 4 * s["lsh_capped_buckets"]
    assert s["lsh_text_capped_buckets"] == 0
    alerts = spark.read.parquet(str(state / "alerts" / "batch=1")).toPandas()
    assert sorted(zip(alerts.new_id, alerts.matched_id, alerts.match_kind)) == [
        (new, old, "similar_audio")
        for new, old in (("h0", "h1"), ("h0", "h2"), ("h9", "h0"), ("h9", "h1"), ("h9", "h2"))]
    actions = spark.read.parquet(str(state / "actions" / "batch=1")).toPandas()
    assert sorted(zip(actions.clip_id, actions.keeper_id)) == [("h0", "h1"), ("h9", "h0")]
