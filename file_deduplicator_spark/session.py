"""SparkSession construction tuned for the dedup workload.

Local-mode testing uses ``local[N]``; the same conf (minus master) applies to
a real cluster via spark-submit. Key decisions for the 100 TB target:

* AQE on (coalesce + skew join) — runtime re-planning for the LSH band join,
  whose bucket-size distribution is data-dependent.
* Arrow batches capped so multi-MB ``bytes`` rows can't OOM an executor
  (SURVEY.md §7.3 "binary payloads through Arrow").
* UTC session timezone so DuckDB oracle comparisons are stable.
* ANSI mode off: the MinHash affine hashing is written overflow-free anyway,
  but third-party exprs shouldn't abort the 12-hour job on a corner row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """SPARK_DRIVER_MEM, else min(24g, half of physical RAM): a heap bound
    above what the host has lets the OS kill the JVM mid-run instead of
    the JVM collecting."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return f"{min(24 * 1024, half_mb)}m"


def _java_opts(cpus: int) -> str:
    """ParallelGC with at most 8 GC threads, never more than the task cores
    (see the note at spark.driver.extraJavaOptions), plus the pretouch
    options when SPARK_GRAFT_PRETOUCH=1."""
    opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={min(8, cpus)}"
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "0") == "1":
        opts += f" -Xms{_driver_mem()} -XX:+AlwaysPreTouch"
    return opts


def get_spark(
    app_name: str = "file_deduplicator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # master: None -> local[$SPARK_GRAFT_CPUS] (test/bench default);
    # "" -> do NOT set a master, defer to spark-submit / spark-defaults
    # (the cluster path — jobs/run_dedup.py passes this).
    if master is None:
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = SparkSession.builder
    if master:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~13 MB Arrow batches (512 x ~25KB rows). Re-gridded r06 on the
        # post-mapInArrow architecture (the round-2 A/B that picked 1024
        # predates the zero-copy binary path): isolated signature stage at
        # 200k/32 cores, min over 4 warm runs — 128: 3.18s, 256: 3.17s,
        # 512: 3.27s, 1024: 4.28s; full warm pipeline agreed within noise
        # (512 14.97s vs 1024 15.6s). 512 sits on the flat part of the
        # curve with the largest batches. Env knob for re-gridding.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"))
        # multi-MB binary rows: smaller input splits -> enough tasks to feed
        # every core on a single large parquet file AND a balanced tail
        # (grid-measured on the 50k-clip signature stage, 32 cores:
        # 32MB -> 35 tasks, 20s first-run / 10s steady; 16MB -> 70 tasks,
        # 11.5s / 4.4s; 8MB flat ~9.4s — 16MB wins both)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.ansi.enabled", "false")
        # Right-size the heap. Re-gridded after the mapInArrow rework (the
        # allocation pattern changed: kept columns pass through as Arrow
        # buffers instead of per-row objects): 200k-clip pipeline, 32 cores,
        # warm best-of-5 — 12g 32.3s (edge-checkpoint stage spent 2/3 of
        # task time in GC), 16g 24.2s, 24g 19.4s, 32g 19.9s, 48g 50s+
        # (host memory pressure). 24g wins, capped at half of physical RAM
        # on smaller hosts; override with SPARK_DRIVER_MEM.
        .config("spark.driver.memory", _driver_mem())
        # iterative jobs (CC fixpoint, watch batches) accumulate shuffle files
        # and checkpoint blocks that only a driver GC lets the ContextCleaner
        # reclaim — force one periodically instead of never on a quiet heap
        .config("spark.cleaner.periodicGC.interval", "2min")
        # local-mode shuffle/checkpoint spill on tmpfs: disk writeback of
        # shuffle files creates D-state kworker storms that bleed into
        # subsequent stages (observed loadavg 12-16 on an idle box). On a
        # real cluster leave SPARK_LOCAL_DIRS to the node's fast local disks.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        # ParallelGC over G1 for the binary-payload streaming pattern: G1
        # collapses under 32 task threads allocating 24KB byte[] per row
        # (survivor churn; measured 10x slowdown of the Arrow feed stage —
        # 84-167s vs 9-17s for the same 200k-clip signature pass).
        # GC threads capped at min(8, cores): the default (= all 32 cores)
        # contends with the 32 task threads + 32 python workers (16.6s vs
        # 20.2s first-run), and on a small host 8 would exceed the cores.
        # SPARK_GRAFT_PRETOUCH=1 (bench/scaling sessions set it) adds
        # -Xms=<driver mem> -XX:+AlwaysPreTouch: the heap is faulted in at
        # JVM start instead of page-by-page inside the first measured runs.
        # Under host allocation pressure first-touch zeroing stalls to ~20 s
        # per GB-scale buffer (see scripts/membw_probe.py note) — heap
        # growth during run 1 is the same stall class. Off by default so
        # test sessions don't pre-zero the whole heap each.
        .config("spark.driver.extraJavaOptions", _java_opts(int(cpus)))
        .config("spark.executor.extraJavaOptions", _java_opts(int(cpus)))
        .config("spark.ui.enabled", "false")
        # Joins (guide §3.1): allow shuffled-hash join when a side's
        # per-partition build fits (skips the sort-merge sorts — the LSH
        # verify joins attach slim signature projections whose sorts were
        # pure overhead), and raise the broadcast threshold to 128 MB: the
        # 200k-clip minhash-signature projection (~90 MB) then broadcasts
        # instead of shuffling twice through the verify joins. Production
        # note: both are size-CONDITIONED planner choices, not forced hints
        # — a build side that outgrows the thresholds falls back to
        # sort-merge exactly as before, so the 100 TB plan shape degrades
        # gracefully rather than OOMing.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(128 * 1024 * 1024))
        # collect_list aggregations (LSH bucket membership) run on
        # ObjectHashAggregate, which silently falls back to SORT-based
        # aggregation after 128 distinct keys per partition — the LSH band
        # tables have ~10^5-10^6 keys per partition by design (one key per
        # bucket), so every bucket pass was paying a full sort (measured:
        # 7.1M band rows grouped in 9.9s vs 17.7s at 32 cores). NOTE the
        # real memory bound: collect_list accumulates the FULL bucket in the
        # agg buffer before F.slice caps it. lsh.bucket_members' plain path
        # therefore buffers up to SAFE_COLLECT_MAX (65,536) members per
        # bucket, each held in memory under this threshold; the salted
        # topology (per-key state ≤ bucket_n/salt) engages only above that
        # bound or when the caller passes no measured max_bucket. Don't
        # disable salting (salt_buckets=1) while this is set.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "16777216")
        # df.persist() builds compressed columnar batches by default; the
        # per-column dictionary/RLE encoders serialize on allocation under
        # many task threads and ANTI-scale (signature-table persist+count,
        # 50k rows: 5.6s at 32 cores vs 2.3s with compression off — the
        # bare uncached count is also 2.3s, i.e. the cache write becomes
        # free). Our cached frames are slim signature/label tables that are
        # re-read a handful of times — CPU trade loses to memory there.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # one main() call compiles ~220 generated classes; the default cache
        # of 100 evicts most of them, so every later call in one session (a
        # watch commit, a warm benchmark pass) compiled them all again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
