"""Suffix-array kernel + containment operator tests."""

import numpy as np

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.suffix import sa_contains, suffix_array, word_contains
from file_deduplicator_spark.operators.containment import containment_edges


def test_suffix_array_correct():
    s = b"banana"
    sa = suffix_array(s)
    suffixes = sorted(range(len(s)), key=lambda i: s[i:])
    assert list(sa) == suffixes


def test_suffix_array_random():
    rng = np.random.RandomState(0)
    for _ in range(10):
        s = bytes(rng.randint(97, 100, size=rng.randint(1, 200)).astype(np.uint8))
        sa = suffix_array(s)
        assert list(sa) == sorted(range(len(s)), key=lambda i: s[i:])


def test_sa_contains():
    s = b" the quick brown fox "
    sa = suffix_array(s)
    assert sa_contains(s, sa, b"quick brown")
    assert sa_contains(s, sa, b" the ")
    assert not sa_contains(s, sa, b"quack")
    assert not sa_contains(s, sa, b"fox and more")


def test_word_contains_boundaries():
    assert word_contains("the quick brown fox", "quick brown")
    assert not word_contains("the quicker brown fox", "quick")  # word-aligned
    assert word_contains("a b c", "a b c")
    assert not word_contains("a b", "a b c")


def test_containment_edges_on_clips(spark, clips_df, clips_fixture):
    cfg = DedupConfig()
    edges = containment_edges(clips_df, cfg).toPandas()
    got = {(min(a, b), max(a, b)) for a, b in zip(edges.id_a, edges.id_b)}
    exp = clips_fixture.expected_pairs.query("kind == 'contained'")
    want = {(a, b) for a, b in zip(exp.clip_id_a, exp.clip_id_b)}
    missed = want - got
    assert not missed, f"missed containment pairs: {missed}"
    # precision: needle must really be contained (operator is verify-exact,
    # so any extra pair found is genuinely contained text; spot-check a few)
    tx = dict(zip(clips_fixture.clips.clip_id, clips_fixture.clips.transcript))
    for a, b in list(got)[:20]:
        ta, tb = tx[a], tx[b]
        needle, container = (ta, tb) if len(ta.split()) < len(tb.split()) else (tb, ta)
        assert word_contains(container, needle)


def test_winnow_batch_matches_column_winnowing(spark):
    """The Arrow kernel and the Column form (kept for q_doc_fingerprint)
    select the same fingerprint set, at every size class of WINNOW_WINDOW."""
    from pyspark.sql import functions as F

    from file_deduplicator_spark.functions.text import winnow_batch
    from file_deduplicator_spark.operators.containment import (
        WINNOW_WINDOW,
        winnowed_fingerprints_col,
    )

    rng = np.random.RandomState(7)
    w = WINNOW_WINDOW
    sizes = [0, 1, w - 1, w, w + 1, 40]
    arrays = [rng.randint(0, 2**31 - 1, size=n).astype(np.int64) for n in sizes]
    arrays.append(rng.randint(0, 5, size=60).astype(np.int64))  # long, with repeats
    rows, fps = winnow_batch(arrays, w)
    got = {i: set() for i in range(len(arrays))}
    for r, f in zip(rows.tolist(), fps.tolist()):
        got[r].add(f)

    df = spark.createDataFrame(
        [(i, [int(x) for x in a]) for i, a in enumerate(arrays)], "i int, h array<long>")
    want = {r.i: set(r.fps) for r in
            df.select("i", winnowed_fingerprints_col(F.col("h"), w).alias("fps")).collect()}
    assert got == want
    assert got[0] == set() and len(got[1]) == 1


def test_containment_recall_on_embedded_needles(spark):
    """Every needle of >= CONTAINMENT_MIN_WORDS words, embedded at a random
    offset in a longer transcript (any case, any spacing), is found."""
    from file_deduplicator_spark.operators.containment import CONTAINMENT_MIN_WORDS

    rng = np.random.RandomState(11)
    vocab = [f"w{i}" for i in range(3000)]
    rows, want = [], set()
    for k in range(40):
        needle = list(rng.choice(vocab, size=rng.randint(CONTAINMENT_MIN_WORDS, 30)))
        pre = list(rng.choice(vocab, size=rng.randint(0, 25)))
        post = list(rng.choice(vocab, size=rng.randint(1 if not pre else 0, 25)))
        container = pre + [w.upper() if rng.rand() < 0.2 else w for w in needle] + post
        rows.append((f"n{k:02d}", " ".join(needle)))
        rows.append((f"c{k:02d}", "  ".join(container) if k % 2 else " ".join(container)))
        want.add((f"n{k:02d}", f"c{k:02d}"))
    rows += [("blank", "   "), ("null", None)]
    df = spark.createDataFrame(rows, "clip_id string, transcript string")
    got = {(r.id_a, r.id_b) for r in containment_edges(df, DedupConfig()).collect()}
    assert want <= got, sorted(want - got)


def test_containment_plan_is_one_arrow_pass(spark, clips_df):
    """Candidate fingerprints come from a mapInArrow pass: no JVM-side
    lower() (ICU case-mapping setup) or split() of the transcripts."""
    plan = containment_edges(clips_df, DedupConfig())._jdf.queryExecution().toString()
    assert "MapInArrow" in plan
    assert "lower(" not in plan
    assert "split(" not in plan


def test_salted_containment_path_matches_plain(spark, monkeypatch):
    """A fingerprint bucket above both ``bucket_cap`` and SAFE_COLLECT_MAX
    takes bucket_members' salted topology (a ``_salt`` grouping) instead
    of one whole-bucket collect, and yields the plain path's edges."""
    from file_deduplicator_spark.operators import lsh

    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(3000)]
    b = " ".join(rng.choice(vocab, size=12))
    # the container sorts first, so the cap of 3 keeps it and two needles
    rows = [("a_container", " ".join(rng.choice(vocab, size=10)) + " " + b)]
    rows += [(f"n{k:02d}", b) for k in range(10)]
    rows += [(f"x{k:02d}", " ".join(rng.choice(vocab, size=20))) for k in range(10)]
    df = spark.createDataFrame(rows, "clip_id string, transcript string")
    cfg = DedupConfig(bucket_cap=3)

    def run():
        edges = containment_edges(df, cfg)
        plan = edges._jdf.queryExecution().toString()
        return {(r.id_a, r.id_b) for r in edges.collect()}, "_salt" in plan

    plain, plain_salted = run()
    monkeypatch.setattr(lsh, "SAFE_COLLECT_MAX", 3)
    salted, salted_salted = run()
    assert not plain_salted and salted_salted
    assert salted == plain
    assert plain == {("n00", "a_container"), ("n01", "a_container")}
