"""Structured Streaming watch wrapper tests."""

import numpy as np

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.datagen import _synth_pcm
from file_deduplicator_spark.functions.audio import wav_encode
from file_deduplicator_spark.streaming.stream import CLIPS_SCHEMA, start_watch_stream


def _row(cid, pcm, sr, txt):
    return (cid, bytearray(wav_encode(pcm, sr)), sr, int(len(pcm) / sr * 1000), "wav", txt)


def test_watch_stream_detects_duplicates(spark, tmp_path):
    rng = np.random.RandomState(11)
    pcm = _synth_pcm(rng, 16000, 500)
    other = _synth_pcm(rng, 16000, 400)
    inp = tmp_path / "incoming"
    inp.mkdir()
    state = tmp_path / "state"

    spark.createDataFrame(
        [_row("s1", pcm, 16000, "alpha beta gamma delta")], CLIPS_SCHEMA
    ).write.mode("append").parquet(str(inp))
    q = start_watch_stream(spark, inp, state, DedupConfig())
    q.awaitTermination(120)

    # second file arrives: exact dup of s1 + one novel clip
    spark.createDataFrame(
        [
            _row("s2", pcm, 16000, "alpha beta gamma delta"),
            _row("s3", other, 16000, "totally different text here"),
        ],
        CLIPS_SCHEMA,
    ).write.mode("append").parquet(str(inp))
    q2 = start_watch_stream(spark, inp, state, DedupConfig())
    q2.awaitTermination(120)

    alerts = spark.read.parquet(str(state / "alerts")).toPandas()
    exact = alerts.query("match_kind == 'exact'")
    assert set(zip(exact.new_id, exact.matched_id)) == {("s2", "s1")}
    # restart with no new files → no duplicate re-processing (Spark checkpoint)
    q3 = start_watch_stream(spark, inp, state, DedupConfig())
    q3.awaitTermination(120)
    alerts2 = spark.read.parquet(str(state / "alerts")).toPandas()
    assert len(alerts2) == len(alerts)



def test_watch_stream_refuses_state_built_with_other_settings(spark, tmp_path):
    """A restart with another sim_algo would match phash arrivals against
    dhash state: it raises before the stream starts, as the snapshot tier
    does."""
    import json

    import pytest

    rng = np.random.RandomState(12)
    inp = tmp_path / "incoming"
    inp.mkdir()
    state = tmp_path / "state"
    spark.createDataFrame(
        [_row("s1", _synth_pcm(rng, 16000, 400), 16000, "alpha beta gamma delta")],
        CLIPS_SCHEMA,
    ).write.mode("append").parquet(str(inp))
    start_watch_stream(spark, inp, state, DedupConfig()).awaitTermination(120)
    assert any((state / "signatures").glob("**/*.parquet"))

    with pytest.raises(ValueError, match="sim_algo"):
        start_watch_stream(spark, inp, state, DedupConfig(sim_algo="phash"))

    # a state written before the settings file existed says nothing of its
    # settings: the restart records its own, and warns
    (state / "_state_settings.json").unlink()
    with pytest.warns(UserWarning, match="unchecked"):
        start_watch_stream(spark, inp, state, DedupConfig(sim_algo="phash")).awaitTermination(120)
    assert json.loads((state / "_state_settings.json").read_text())["sim_algo"] == "phash"
