"""spark-submit --py-files packaging (north rule: "packaged for
spark-submit --py-files"). The zip must be importable on its own — the
exact contract --py-files gives executors/driver — and the job script
must parse its CLI without touching Spark."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_zip_builds_deterministically(tmp_path):
    sys.path.insert(0, str(REPO / "scripts"))
    try:
        from package_pyfiles import build
    finally:
        sys.path.pop(0)
    a = build(tmp_path / "d1")
    b = build(tmp_path / "d2")
    assert a["files"] > 20
    assert a["sha256"] == b["sha256"]  # reproducible artifact


def test_zip_imports_standalone(tmp_path):
    """Import the package from the zip ALONE (cwd stripped from sys.path)
    in a fresh interpreter — what --py-files does on an executor."""
    sys.path.insert(0, str(REPO / "scripts"))
    try:
        from package_pyfiles import build
    finally:
        sys.path.pop(0)
    info = build(tmp_path)
    code = (
        "import sys\n"
        # strip repo/cwd entries so only the zip can satisfy the import
        f"sys.path = [p for p in sys.path if not p.startswith({str(REPO)!r})]\n"
        f"sys.path.insert(0, {info['zip']!r})\n"
        "import file_deduplicator_spark as m\n"
        "from file_deduplicator_spark.config import DedupConfig\n"
        "from file_deduplicator_spark.plans.pipeline import dedup_pipeline\n"
        "from file_deduplicator_spark.functions.image import dhash_image\n"
        "assert m.__file__.endswith('.zip/file_deduplicator_spark/__init__.py'), m.__file__\n"
        "print('ZIP_IMPORT_OK')\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=str(tmp_path), timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert "ZIP_IMPORT_OK" in r.stdout


def test_job_cli_parses_without_spark():
    sys.path.insert(0, str(REPO / "jobs"))
    try:
        from run_dedup import parse_args
    finally:
        sys.path.pop(0)
    a = parse_args(["--input", "/x", "--output", "/y", "--keep", "newest",
                    "--sim-algo", "phash", "--sim-threshold", "8"])
    assert (a.input, a.keep_criteria, a.sim_algo, a.sim_threshold) == (
        "/x", "newest", "phash", 8)
    assert not a.local


def test_job_end_to_end_local(spark, tmp_path, clips_df, clips_fixture):
    """Full job main() against the 120-clip fixture in local mode: report
    JSON + clusters/pairs parquet + actions lineage + metrics rows land."""
    sys.path.insert(0, str(REPO / "jobs"))
    try:
        from run_dedup import main
    finally:
        sys.path.pop(0)
    src = tmp_path / "clips.parquet"
    clips_df.write.mode("overwrite").parquet(str(src))
    out = tmp_path / "run"
    summary = main([
        "--input", str(src), "--output", str(out),
        "--local", "--run-id", "7", "--probe",
    ])
    assert (out / "report.json").exists()
    # --probe writes the header-only corpus inventory next to the outputs
    probe = spark.read.parquet(str(out / "probe"))
    assert probe.count() == clips_df.count()
    assert probe.filter("ok and container = 'wav'").count() > 0
    report = json.loads((out / "report.json").read_text())
    assert report["duplicate_groups"] > 0
    assert summary["run_id"] == 7
    assert spark.read.parquet(str(out / "clusters")).count() > 0
    actions = spark.read.parquet(str(out / "actions"))
    assert actions.filter("run_id = 7").count() == actions.count()
    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.filter("metric = 'wall_sec'").count() == 1
    # per-partition lineage table (north rule resumability posture)
    lineage = spark.read.parquet(str(out / "partitions"))
    assert lineage.filter("run_id = 7").count() == lineage.count()
    n_rows = lineage.groupBy().sum("rows").first()[0]
    assert n_rows == clips_df.count()
    assert metrics.filter("metric = 'input_partitions'").count() == 1
    # the suffix-array containment stage is wired into the job by default
    # (north_star pipeline stage): planted contained-transcript pairs —
    # which the near-dup recall test explicitly excludes — must co-cluster
    plan = spark.read.parquet(str(out / "actions")).toPandas()
    clip_cluster = dict(zip(plan.clip_id, plan.cluster_id))
    clip_cluster.update(dict(zip(plan.keeper_id, plan.cluster_id)))
    contained = clips_fixture.expected_pairs.query("kind == 'contained'")
    for a, b in zip(contained.clip_id_a, contained.clip_id_b):
        assert clip_cluster.get(a) is not None and (
            clip_cluster.get(a) == clip_cluster.get(b)
        ), f"contained pair ({a}, {b}) not co-clustered by the job"


def test_job_resume_after_append(spark, tmp_path, clips_df):
    """--resume-from reuses the prior run's recorded signatures for every
    unchanged input file and re-decodes ONLY the appended one, and the
    resumed run's outputs are identical to a from-scratch run on the same
    input (the directive's done-criterion).

    The partition key is xxhash64(file_path) per file — append-stable — so
    appending a file must flag exactly its own partitions as changed (the
    (file_path, block_start) variant was a measured scan-variance bug; see
    sinks.input_part_expr)."""
    sys.path.insert(0, str(REPO / "jobs"))
    try:
        from run_dedup import main
    finally:
        sys.path.pop(0)
    from pyspark.sql import functions as F

    # deterministic 2-way split: ~10% of clips arrive later as an append
    late = F.abs(F.xxhash64("clip_id")) % 10 == 0
    first, extra = clips_df.where(~late), clips_df.where(late)
    assert extra.count() > 0
    src = tmp_path / "input"
    first.repartition(3).write.parquet(str(src))
    out = tmp_path / "run"

    main(["--input", str(src), "--output", str(out), "--local",
          "--run-id", "1"])
    lin1 = spark.read.parquet(str(out / "partitions")).where("run_id = 1")
    n_parts_before = lin1.count()

    # corpus append: one new file lands next to the untouched ones
    extra.coalesce(1).write.mode("append").parquet(str(src))

    s2 = main(["--input", str(src), "--output", str(out), "--local",
               "--run-id", "2", "--resume-from", "1"])
    # only the appended file's partition(s) were recomputed
    n_changed = s2["metrics"]["changed_partitions"]
    assert 1 <= n_changed < n_parts_before + 1
    assert s2["metrics"]["resumed_from"] == 1

    out_full = tmp_path / "run_full"
    s3 = main(["--input", str(src), "--output", str(out_full), "--local",
               "--run-id", "3"])

    # identical outputs: every row gets the same cluster and action, and
    # the emitted pair list matches edge-for-edge
    def canon(o, table, cols):
        pdf = (spark.read.parquet(str(o / table)).select(*cols)
               .toPandas().sort_values(cols).reset_index(drop=True))
        return pdf

    for table, cols in (
        ("clusters", ["cluster_id", "group_count", "duplicates",
                      "reclaimable_bytes"]),
        ("pairs", ["id_a", "id_b"]),
    ):
        a = canon(out, table, cols)
        b = canon(out_full, table, cols)
        assert a.equals(b), f"{table} diverged between resume and full run"
    # per-clip keeper decisions match too (actions appends; filter by run)
    acts = ["clip_id", "keeper_id", "cluster_id", "planned_action"]
    a2 = (spark.read.parquet(str(out / "actions")).where("run_id = 2")
          .select(*acts).toPandas().sort_values(acts).reset_index(drop=True))
    a3 = (spark.read.parquet(str(out_full / "actions")).where("run_id = 3")
          .select(*acts).toPandas().sort_values(acts).reset_index(drop=True))
    assert a2.equals(a3), "action plan diverged between resume and full run"
    r2 = json.loads((out / "report.json").read_text())
    r3 = json.loads((out_full / "report.json").read_text())
    assert r2 == r3 and r3["duplicate_groups"] > 0


def test_job_resume_refuses_other_signatures(spark, tmp_path, clips_df, monkeypatch):
    """--resume-from reads only signatures built with this run's settings:
    another --sim-algo, --hash-algo, --no-perceptual, signature kernel
    version, or prefilter (--min-size, --max-size: they chose the rows the
    snapshot holds) raises (naming the setting) before any row is read, and
    so does a signatures dir in the retired run_id-partitioned parquet
    layout."""
    import pytest
    from pyspark.sql import functions as F

    import file_deduplicator_spark.plans.pipeline as pipeline
    from file_deduplicator_spark.sources import iceberg_lite

    sys.path.insert(0, str(REPO / "jobs"))
    try:
        from run_dedup import main
    finally:
        sys.path.pop(0)
    src = tmp_path / "clips.parquet"
    clips_df.write.parquet(str(src))
    out = tmp_path / "run"
    main(["--input", str(src), "--output", str(out), "--local", "--run-id", "1"])
    resume = ["--input", str(src), "--output", str(out), "--local",
              "--run-id", "2", "--resume-from", "1"]
    for flags, key in ((["--sim-algo", "phash"], "sim_algo"),
                       (["--hash-algo", "md5"], "hash_algo"),
                       (["--no-perceptual"], "perceptual"),
                       (["--min-size", "21740"], "min_size"),
                       (["--max-size", "1000000"], "max_size")):
        with pytest.raises(ValueError, match=f"{key}="):
            main(resume + flags)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "SIG_KERNEL_VERSION", pipeline.SIG_KERNEL_VERSION + 1)
        with pytest.raises(ValueError, match="sig_kernel_version="):
            main(resume)
    assert [m["run_id"] for m in iceberg_lite.snapshot_summaries(out / "signatures")] == ["1"]

    old = tmp_path / "old_run"
    iceberg_lite.read_table(spark, out / "signatures").withColumn(
        "run_id", F.lit(1)).write.partitionBy("run_id").parquet(str(old / "signatures"))
    with pytest.raises(ValueError, match="fresh --output"):
        main(["--input", str(src), "--output", str(old), "--local",
              "--run-id", "2", "--resume-from", "1"])


def test_job_resume_of_a_run_id_written_twice(spark, tmp_path, clips_fixture):
    """A run id written twice (a retried job), over an input that lost a
    clip in between, resumes from its latest write alone: its signatures
    snapshot, and the lineage written with it, so the one input file diffs
    as unchanged, and the outputs equal a full run's (the rows of both
    writes would plan clips for removal in favour of themselves)."""
    import pyarrow.parquet as pq

    from file_deduplicator_spark.datagen import write_clips_parquet

    sys.path.insert(0, str(REPO / "jobs"))
    try:
        from run_dedup import main
    finally:
        sys.path.pop(0)
    src = tmp_path / "input"
    write_clips_parquet(clips_fixture, str(src))
    out, out_full = tmp_path / "run", tmp_path / "run_full"
    args = ["--input", str(src), "--local"]
    main(args + ["--output", str(out), "--run-id", "1"])
    t = pq.read_table(src / "clips.parquet")
    pq.write_table(t.slice(1), src / "clips.parquet", row_group_size=512)
    main(args + ["--output", str(out), "--run-id", "1"])
    resumed = main(args + ["--output", str(out), "--run-id", "2", "--resume-from", "1"])
    assert resumed["metrics"]["changed_partitions"] == 0
    full = main(args + ["--output", str(out_full), "--run-id", "2"])

    assert resumed["report"] == full["report"] and full["report"]["duplicate_groups"] > 0

    def rows(o, table, cols):  # actions appends: this run's rows
        df = spark.read.parquet(str(o / table))
        return (df.where("run_id = 2") if table == "actions" else df).select(*cols)

    for table, cols in (("clusters", ["cluster_id", "group_count", "duplicates",
                                      "reclaimable_bytes"]),
                        ("pairs", ["id_a", "id_b"]),
                        ("actions", ["clip_id", "keeper_id", "cluster_id", "planned_action"])):
        a, b = rows(out, table, cols), rows(out_full, table, cols)
        assert a.count() == b.count() > 0, table
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, table


def test_one_signature_store_and_one_settings_guard():
    """Batch runs and watch keep signatures in one Iceberg table format and
    check their settings through one guard: pipeline.check_signature_settings
    is defined once (not in watch), no run_id-partitioned parquet sink is
    left, and only the kernel and the guard's module read
    SIG_KERNEL_VERSION."""
    import ast
    import re

    files = [*REPO.glob("file_deduplicator_spark/**/*.py"), *REPO.glob("jobs/*.py")]
    defs = [p.relative_to(REPO).as_posix() for p in files
            for _ in re.finditer(r"def check_signature_settings\b", p.read_text())]
    assert defs == ["file_deduplicator_spark/plans/pipeline.py"]
    assert not [p for p in files if 'partitionBy("run_id")' in p.read_text()]
    readers = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            names = ([a.name for a in node.names] if isinstance(node, ast.ImportFrom)
                     else [getattr(node, "id", None), getattr(node, "attr", None)])
            if "SIG_KERNEL_VERSION" in names:
                readers.add(path.relative_to(REPO).as_posix())
    assert readers == {"file_deduplicator_spark/functions/audio.py",
                       "file_deduplicator_spark/plans/pipeline.py"}


def test_entry_points_import_only_existing_names():
    """Every ``from file_deduplicator_spark... import name`` in the scripts,
    jobs, benchmark, driver entry points, the package itself and the tests
    resolves, including function-level (lazy) imports — a helper deleted
    from the package but still imported somewhere fails here, not at run
    time. Parses with ``ast`` and imports modules only: no Spark session."""
    import ast
    import importlib

    files = sorted([*REPO.glob("scripts/*.py"), *REPO.glob("jobs/*.py"),
                    *REPO.glob("perfbench/*.py"), REPO / "bench.py",
                    REPO / "__spark_entry__.py",
                    *REPO.glob("file_deduplicator_spark/**/*.py"),
                    *REPO.glob("tests/*.py")])
    checked, missing = 0, []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (isinstance(node, ast.ImportFrom) and node.level == 0
                    and (node.module or "").split(".")[0] == "file_deduplicator_spark"):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                checked += 1
                if hasattr(mod, alias.name):
                    continue
                try:  # a submodule not yet imported as an attribute
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    missing.append(f"{path.relative_to(REPO)}:{node.lineno} "
                                   f"{node.module}.{alias.name}")
    assert checked > 50
    assert not missing, missing


def test_every_config_field_is_read():
    """Every DedupConfig field is read as an attribute (``.field``) somewhere
    in the package, the jobs, ``__spark_entry__.py``, the benchmark or the
    scripts, outside its own declaration — a knob nothing reads is dead
    configuration, and this keeps one from coming back."""
    import ast
    from dataclasses import fields

    from file_deduplicator_spark.config import DedupConfig

    files = [*REPO.glob("file_deduplicator_spark/**/*.py"), *REPO.glob("jobs/*.py"),
             *REPO.glob("perfbench/*.py"), *REPO.glob("scripts/*.py"),
             REPO / "bench.py", REPO / "__spark_entry__.py"]
    read = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    unread = [f.name for f in fields(DedupConfig) if f.name not in read]
    assert not unread, f"DedupConfig fields nothing reads: {unread}"


def test_one_bucket_operator_and_no_hidden_metric_loss():
    """Bucket grouping lives in lsh.py alone: no other operator collects a
    member list (textops.py holds the exact PPJoin prefix join, not a
    bucket operator). The pipeline reads bucket metrics from the
    lsh.bucket_stats probe: no Observation, no failure swallowed whole."""
    import re

    ops = REPO / "file_deduplicator_spark" / "operators"
    collectors = sorted(p.name for p in ops.glob("*.py") if "collect_list(" in p.read_text())
    assert collectors == ["lsh.py", "textops.py"]
    src = (REPO / "file_deduplicator_spark" / "plans" / "pipeline.py").read_text()
    assert "Observation(" not in src
    assert not re.search(r"except Exception:\s*pass", src)


def test_one_near_dup_core_for_batch_and_watch():
    """Batch and watch share one near-dup core: one has-text rule
    (minhash_sql.has_text_col, the only reader of EMPTY_SLOT), one band
    builder (pipeline.near_dup_bands) and one text verify
    (lsh.verify_pairs_minhash), so watch builds no band table and writes no
    slot agreement of its own, and batch has no second has-text rule."""
    import re

    pkg = REPO / "file_deduplicator_spark"
    readers = sorted(str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
                     if re.search(r"\bEMPTY_SLOT\b", p.read_text()))
    assert readers == ["functions/minhash_sql.py"]
    watch = (pkg / "streaming" / "watch.py").read_text()
    assert "band_table(" not in watch and "sig_agreement_col" not in watch
    assert "F.trim(" not in (pkg / "plans" / "pipeline.py").read_text()


def test_one_contraction_operator():
    """Digest, signature and transcript classes contract through
    components.contract alone: the pipeline and the exact operators hold no
    window of their own and no join that lifts edges back to roots."""
    pkg = REPO / "file_deduplicator_spark"
    for rel in ("plans/pipeline.py", "operators/exact.py"):
        src = (pkg / rel).read_text()
        for token in ("Window.partitionBy(", "row_number(", "root_map"):
            assert token not in src, (rel, token)


def test_readme_layout_names_every_package_module():
    """The README "Repository layout" block names every package module
    (``__init__.py`` aside) and no module that does not exist. Entries nest
    by two-space indentation under their directory line; description
    continuation lines never start with a ``.py`` or ``dir/`` token."""
    import re

    text = (REPO / "README.md").read_text()
    block = text.split("## Repository layout", 1)[1].split("```")[1]
    stack: list[str] = []
    listed = set()
    for line in block.splitlines():
        m = re.match(r"( *)([\w./-]+(?:/|\.py))(?:\s|$)", line)
        if not m:
            continue
        depth = len(m.group(1)) // 2
        name = m.group(2)
        if name.endswith("/"):
            stack[depth:] = [name.rstrip("/")]
        else:
            listed.add("/".join([*stack[:depth], name]))
    listed = {p for p in listed if p.startswith("file_deduplicator_spark/")}
    actual = {str(p.relative_to(REPO))
              for p in REPO.glob("file_deduplicator_spark/**/*.py")
              if p.name != "__init__.py"}
    assert not actual - listed, f"missing from README layout: {sorted(actual - listed)}"
    assert not listed - actual, f"README layout names absent files: {sorted(listed - actual)}"
