"""Text-analysis operator tests: langid heuristic, quality/token kernels,
n-gram Jaccard."""

from pyspark.sql import functions as F

from file_deduplicator_spark.functions.text import token_count
from file_deduplicator_spark.operators.textops import (
    langid_col,
    ngram_jaccard_pairs,
    token_count_col,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different words appear here",
    "",
    "one",
]


def test_token_count_parity(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! 123 foo-bar"), (1, ""), (2, "a b c")], "i int, t string"
    )
    got = {r.i: r.n for r in df.select("i", token_count_col(F.col("t")).alias("n")).collect()}
    assert got[0] == token_count("Hello, world! 123 foo-bar")
    assert got[2] == 3


def test_langid_heuristic(spark):
    samples = [
        ("the cat is on the mat and it is happy", "en"),
        ("der hund ist nicht die katze und", "de"),
        ("le chat est sur la table et les chaises", "fr"),
        ("数据 重复 删除 测试", "zh"),
        ("тест на русском языке", "ru"),
        ("اختبار باللغة العربية", "ar"),
        ("zzz qqq xxx", "unknown"),
    ]
    df = spark.createDataFrame(samples, "t string, want string")
    rows = df.select("want", langid_col(F.col("t")).alias("got")).collect()
    for r in rows:
        assert r.got == r.want, f"want {r.want}, got {r.got}"


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "a b c d e"),          # identical → jaccard 1.0
            (2, "a b c d x"),          # shares 2 of 3+3-2=4 trigram union
            (3, "q r s t u"),          # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, k=3, threshold=0.4).toPandas()
    got = {(a, b): j for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard)}
    assert got[(0, 1)] == 1.0
    assert (0, 3) not in got and (1, 3) not in got
    assert abs(got[(0, 2)] - 0.5) < 1e-9  # {abc,bcd} shared; union {abc,bcd,cde,cdx}


def test_ngram_jaccard_prefix_filter_identical_output(spark):
    """PPJoin prefix path must equal the naive all-shingles join exactly
    (round-4 directive 5) — randomized docs with shared phrases so both
    near-dup and borderline pairs appear."""
    import random

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(40)]
    common = "the quick brown fox jumps over the dog".split()
    docs = []
    for i in range(60):
        n = rng.randint(3, 30)
        words = [rng.choice(vocab) for _ in range(n)]
        if i % 3 == 0 and i > 0:  # planted near-dups of the previous doc
            base = docs[i - 1][1].split()
            words = base[: max(1, len(base) - 2)] + [rng.choice(vocab)]
        if i % 5 == 0:
            words += common  # frequent shared phrase → hot shingles
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        on = ngram_jaccard_pairs(df, k=3, threshold=t, prefix_filter=True)
        off = ngram_jaccard_pairs(df, k=3, threshold=t, prefix_filter=False)
        a = sorted(map(tuple, on.collect()))
        b = sorted(map(tuple, off.collect()))
        assert a == b, f"prefix filter changed output at t={t}"
        assert len(a) > 0, f"degenerate fixture at t={t}"


def test_ngram_jaccard_repeat_calls_keep_cache(spark):
    """Regression: repeat calls build byte-identical analyzed plans, so
    Spark's CacheManager maps the new persist() onto the PREVIOUS call's
    cache entry — releasing the previous frame AFTER persisting the new one
    therefore dropped the shared entry and silently uncached every call but
    the first (measured 5.8s vs 3.0s warm at sf0.1). The operator must
    release-before-persist so the second call's plan still scans the cache."""
    df = spark.createDataFrame(
        [(i, f"a b c d e f g h w{i}") for i in range(30)],
        "doc_id long, text string",
    )
    first = ngram_jaccard_pairs(df, k=3, threshold=0.3)
    first.count()  # materializes call 1's cache entry
    second = ngram_jaccard_pairs(df, k=3, threshold=0.3)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, (
        "second call lost the persisted docs relation — "
        "release-before-persist ordering regressed"
    )
    second.count()
    from file_deduplicator_spark.operators import textops

    while textops._NGRAM_DOCS_CACHE:  # leave the session clean for other tests
        textops._NGRAM_DOCS_CACHE.pop().unpersist()
