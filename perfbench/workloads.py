"""Workload runners: set-up, the timed window, traced layers, output checks."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile
from collections import Counter

from pyspark import SparkContext
from pyspark.sql import functions as F

from pdf_table_extractor_spark import job, ship
from pdf_table_extractor_spark.operators.serialize import serialize
from pdf_table_extractor_spark.plans.extract import extract, profile_of, salt_repartition
from pdf_table_extractor_spark.plans.profiles import PROFILES
from pdf_table_extractor_spark.session import build_spark
from pdf_table_extractor_spark.sources.catalog import LocalCatalog

import corpus as corpus_module
import host
import metrics
import sparkplan
from spans import Tracer

N_SETUPS = 2  # set-ups per untraced run; setup_s is their median
DRIVER_MEMORY = "4g"
MIN_REPS = 3  # the first timed rep runs ~8% slow; the median of 3 skips it
P90_MIN_SAMPLES = 100  # ten samples beyond the 90th percentile
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- session ----------------------------------------------------------------


def _package_zip_in(work: str):
    """`ship.package_zip` with its zip under `work`: the engine writes it
    to /tmp, and the benchmark writes only inside its checkout. Same
    content and digest key as the engine's zip."""

    def package_zip() -> str:
        out = os.path.join(work, f"{ship._PKG_NAME}-pyfiles-{ship._content_digest()}.zip")
        if not os.path.exists(out):
            tmp = out + ".tmp"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for root, _dirs, files in os.walk(ship._PKG_DIR):
                    for f in sorted(files):
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.relpath(full, ship._PKG_DIR)
                            zf.write(full, os.path.join(ship._PKG_NAME, rel))
            os.replace(tmp, out)
        return out

    return package_zip


def start_session(work: str, cores: int, tracer: Tracer):
    """`session.build_spark` at the engine's own settings but for the
    driver heap, then `ship.ensure_shipped`."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The engine's 8g default let a traced run's JVM reach 9 GB resident
        # on a 4-core host whose memory other jobs share; 4g bounds it.
        "spark.driver.memory": DRIVER_MEMORY,
    }
    with tracer.span("session.build"):
        spark = build_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
        )
    spark.sparkContext.setLogLevel("ERROR")
    ship.package_zip = _package_zip_in(work)
    with tracer.span("ship.ensure"):
        ship.ensure_shipped(spark)
    return spark


def set_up(work: str, cores: int, pages_path: str, tracer: Tracer):
    """One set-up: a session, the engine shipped, and one warm-up pass of
    the timed action over the whole corpus. After a warm-up on a small
    slice, or with another action, the first timed rep ran about 10% slower
    than the ones after it (code generation, JIT, heap growth)."""
    with tracer.span("setup"):
        spark = start_session(work, cores, tracer)
        with tracer.span("setup.warmup"):
            collect_output(extract(spark.read.parquet(pages_path), num_partitions=cores))
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers have
    exited. Then drop the engine's per-process caches (`functools.cache`d UDF
    factories): a cached UDF keeps the JVM handle of the session that first
    used it, so the next session in this process needs fresh ones."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    host.wait_gone(workers)
    for name, module in list(sys.modules.items()):
        if name.startswith("pdf_table_extractor_spark"):
            for obj in list(vars(module).values()):
                if callable(getattr(obj, "cache_clear", None)):
                    obj.cache_clear()


# -- output checks ------------------------------------------------------------


class Checks:
    """Operations attempted and failed; `problems` keeps the first few."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(what)


def collect_output(df):
    """The timed action: (url, profile, n_rows, md5(csv)) per output row —
    every output column, the csv bytes in full — collected to the driver.
    Returns (rows, executed plan)."""
    q = df.select("url", "profile", "n_rows", F.md5("csv").alias("md5"))
    return q.collect(), q._jdf.queryExecution().executedPlan()


def check_rows(rows, expected: dict, checks: Checks) -> None:
    """One check per url: present exactly once, right profile, csv bytes
    equal to the oracle's (md5). Noise urls must pass through with
    profile '' and a NULL csv; a profile document the oracle extracts
    nothing from may carry NULL or a zero-row (header-only) csv."""
    seen = Counter(r["url"] for r in rows)
    by_url = {r["url"]: r for r in rows}
    for url, exp in expected.items():
        n, r = seen.get(url, 0), by_url.get(url)
        if n != 1:
            checks.check(False, f"{url}: {n} output rows")
        elif r["profile"] != exp["profile"]:
            checks.check(False, f"{url}: profile {r['profile']!r} != {exp['profile']!r}")
        elif exp["md5"] is not None:
            checks.check(r["md5"] == exp["md5"], f"{url}: csv bytes differ from the oracle")
        elif exp["profile"] == "":
            checks.check(r["md5"] is None and r["n_rows"] == 0, f"{url}: noise was extracted")
        else:
            checks.check(r["md5"] is None or r["n_rows"] == 0, f"{url}: oracle has no output")
    for url in seen.keys() - expected.keys():
        checks.check(False, f"{url}: not an input url")


# -- extract ----------------------------------------------------------------------


def timed_reps(spark, path: str, cores: int, seconds: float, expected_py: int, action=collect_output):
    """Full-output extract passes until `seconds` have passed and at least
    `MIN_REPS` ran. Each rep builds a fresh plan, so no shuffle output is
    reused.
    Returns (rep wall times, each rep's output rows)."""
    reps, outputs = [], []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        rows, plan = action(extract(spark.read.parquet(path), num_partitions=cores))
        reps.append(time.perf_counter() - t)
        sparkplan.guard_not_pruned(plan, expected_py)
        outputs.append(rows)
        if time.perf_counter() - t0 >= seconds and len(reps) >= MIN_REPS:
            return reps, outputs


def run_extract(spark, corpus, cores, seconds, values, report, checks) -> None:
    """Every timed rep's output is checked against the oracle after the
    window closes."""
    expected_py = sparkplan.expected_python_nodes(extract(spark.read.parquet(corpus.path), num_partitions=cores))
    with host.PeakRss() as rss:
        reps, outputs = timed_reps(spark, corpus.path, cores, seconds, expected_py)
    for rows in outputs:
        check_rows(rows, corpus.expected, checks)
    values["docs_per_s"] = corpus.n_docs / statistics.median(reps)
    values["python_peak_rss_mb"] = rss.mb("python")
    report["peak_rss_mb"] = {k: rss.mb(k) for k in rss.peak}
    report["rep_s"] = summary(reps)
    report["python_nodes"] = expected_py


def trace_extract(spark, corpus, cores, tracer: Tracer, values, report, checks) -> None:
    """Per-layer self times: each layer is materialized on its own over a
    cached copy of its input."""
    read = lambda: spark.read.parquet(corpus.path)  # noqa: E731

    with tracer.span("extract.full"):
        t = time.perf_counter()
        rows, plan = collect_output(extract(read(), num_partitions=cores))
        full_s = time.perf_counter() - t
    check_rows(rows, corpus.expected, checks)
    values.update(sparkplan.spark_counters(plan))
    values["extract.full_s"] = full_s

    with tracer.span("sources.scan"):
        scan = sparkplan.materialize(read())
    values["sources.scan_s"] = scan.seconds
    values["sources.scan_bytes"] = sparkplan.scan_bytes(scan.plan)

    pages = read().cache()
    pages.count()
    salted = salt_repartition(pages.withColumn("profile", profile_of(F.col("url"))), cores)
    with tracer.span("extract.salt"):
        salt = sparkplan.materialize(salted)
    values["extract.salt_s"] = salt.seconds
    values["extract.salt_shuffle_bytes"], values["extract.salt_shuffle_records"] = (
        sparkplan.repartition_totals(salt.plan)
    )
    salted = salted.cache()
    salted.count()
    pages.unpersist()

    layers_s = scan.seconds + salt.seconds
    for name, prof in PROFILES.items():
        recs = prof.build(salted.filter(F.col("profile") == name))
        with tracer.span(f"profiles.{name}.build"):
            built = sparkplan.materialize(recs)
        recs = recs.cache()
        recs.count()
        with tracer.span(f"serialize.{name}"):
            ser = sparkplan.materialize(
                serialize(recs, name, prof.sink),
                bytes_out=F.coalesce(F.sum(F.octet_length("csv")), F.lit(0)),
            )
        recs.unpersist()
        values[f"profiles.{name}.build_s"] = built.seconds
        values[f"profiles.{name}.records_out"] = built.rows
        values[f"serialize.{name}.s"] = ser.seconds
        values[f"serialize.{name}.bytes_out"] = ser.extra["bytes_out"]
        layers_s += built.seconds + ser.seconds
    salted.unpersist()
    values["extract.residual_s"] = full_s - layers_s


# -- job layers ---------------------------------------------------------------------


def job_cycle(spark, corpus, out_root: str, cfg: dict):
    """One crash-and-resume `run_job` over a fresh output root.
    Returns (wall seconds, catalog)."""
    shutil.rmtree(out_root, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        job.run_job(
            spark, corpus.path, out_root,
            n_buckets=cfg["n_buckets"], fail_after_bucket=cfg["fail_after_bucket"],
        )
    except RuntimeError as e:
        if not str(e).startswith("injected failure"):
            raise
    else:
        raise RuntimeError("the injected crash did not happen")
    catalog = job.run_job(spark, corpus.path, out_root, n_buckets=cfg["n_buckets"])
    return time.perf_counter() - t0, catalog


def check_job(spark, catalog: LocalCatalog, corpus, cfg: dict, checks: Checks) -> None:
    """Committed output per url against the oracle (poison rows excluded),
    lineage sums, the quarantine table, and no url committed twice."""
    kept = {u: e for u, e in corpus.expected.items() if u not in corpus.poison_urls}
    check_rows(collect_output(catalog.read_data(spark))[0], kept, checks)
    lineage = catalog.lineage_rows()
    n_poison = len(corpus.poison_urls)
    checks.check(
        catalog.committed_buckets() == list(range(cfg["n_buckets"])), "not every bucket committed"
    )
    checks.check(
        sum(r["n_pages"] for r in lineage) == corpus.n_docs - n_poison,
        "lineage n_pages does not sum to the non-quarantined input",
    )
    checks.check(
        sum(r["n_quarantined"] for r in lineage) == n_poison,
        "lineage n_quarantined does not match the planted poison rows",
    )
    q = catalog.read_quarantine(spark)
    q_urls = {r["url"] for r in q.select("url").collect()} if q is not None else set()
    checks.check(q_urls == corpus.poison_urls, "quarantine table urls differ from the poison rows")


@contextlib.contextmanager
def _bucket_job_groups(spark, jobs_per_bucket: list):
    """Run each bucket under its own Spark job group and count its jobs."""
    sc = spark.sparkContext
    original = job._run_bucket

    def grouped(*args, **kwargs):
        group = f"perfbench-bucket-{len(jobs_per_bucket)}"
        sc.setJobGroup(group, group)
        try:
            return original(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs_per_bucket.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    job._run_bucket = grouped
    try:
        yield
    finally:
        job._run_bucket = original


def trace_job(spark, corpus, cfg, work, tracer: Tracer, values, report, checks) -> None:
    """A warm-up, an untraced and a traced crash-and-resume cycle: the
    job-side layers, and the tracing overhead as the difference of the
    last two. (The first cycle of a session runs ~30% slower.)"""
    job_cycle(spark, corpus, os.path.join(work, "job", "warmup"), cfg)
    untraced_s, _ = job_cycle(spark, corpus, os.path.join(work, "job", "untraced"), cfg)

    staged_bytes: list[int] = []
    jobs_per_bucket: list[int] = []

    def on_stage(args, kwargs, staged):
        staged_bytes.append(_dir_bytes(staged))

    with contextlib.ExitStack() as stack:
        stack.enter_context(_bucket_job_groups(spark, jobs_per_bucket))
        stack.enter_context(tracer.wrap(job, "stage_pages", "job.stage", on_exit=on_stage))
        stack.enter_context(tracer.wrap(LocalCatalog, "commit_bucket", "catalog.commit"))
        stack.enter_context(tracer.wrap(LocalCatalog, "committed_urls", "catalog.committed_urls"))
        traced_s, catalog = job_cycle(spark, corpus, os.path.join(work, "job", "traced"), cfg)

    lineage = catalog.lineage_rows()
    bucket_s = [r["wall_ms"] / 1000 for r in lineage]
    values["trace.overhead_s"] = traced_s - untraced_s
    values["job.docs_per_s"] = sum(r["n_pages"] for r in lineage) / untraced_s
    values["job.bucket_s_p50"] = statistics.median(bucket_s)
    values["job.stage_s"] = tracer.total("job.stage")
    values["job.stage_bytes"] = sum(staged_bytes)
    values["catalog.commit_s"] = tracer.total("catalog.commit")
    values["catalog.committed_urls_s"] = tracer.total("catalog.committed_urls")
    values["job.spark_jobs_per_bucket"] = statistics.mean(jobs_per_bucket)
    values["quarantine.n_quarantined"] = sum(r["n_quarantined"] for r in lineage)
    report["untraced_cycle_s"] = untraced_s
    report["bucket_s"] = summary(bucket_s)
    report["bucket_s_p90"] = (
        statistics.quantiles(bucket_s, n=10)[-1]
        if len(bucket_s) >= P90_MIN_SAMPLES
        else f"not reported: {len(bucket_s)} buckets < {P90_MIN_SAMPLES}"
    )
    report["jobs_per_bucket"] = jobs_per_bucket
    check_job(spark, catalog, corpus, cfg, checks)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _d, files in os.walk(path) for f in files
    )


# -- entry ---------------------------------------------------------------------


def summary(samples: list[float]) -> dict:
    """Median, quartiles and sample count, and the samples in order."""
    if len(samples) < 2:
        q1 = q3 = samples[0]
    else:
        q1, _, q3 = statistics.quantiles(samples, n=4)
    return {"median": statistics.median(samples), "q1": q1, "q3": q3, "n": len(samples), "samples": samples}


def run(cfg: dict, seed: int, seconds: float, traced: bool, import_s: float, work: str) -> dict:
    """Untraced: the end-to-end metrics of the workload. Traced: the
    extract layers over the workload's corpus and the job layers of a
    crash-and-resume cycle (`cfg["job"]`) over it."""
    tracer = Tracer()
    values: dict = {}
    report: dict = {"workload": cfg["name"], "seed": seed, "seconds": seconds, "trace": int(traced)}
    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    spec = corpus_module.CorpusSpec(
        seed=seed,
        n_docs=cfg["n_docs"],
        profiles=tuple(cfg["profiles"] or PROFILES),
        noise_frac=cfg["noise_frac"],
        n_poison=cfg["n_poison"],
    )
    t = time.perf_counter()
    corpus = corpus_module.ensure_corpus(spec, os.path.join(work, "corpora"), workers=cores)
    report["corpus_s"] = time.perf_counter() - t
    checks = Checks()

    spark = None
    try:
        for _ in range(1 if traced else N_SETUPS):
            if spark is not None:
                stop_session(spark)
            spark = set_up(work, cores, corpus.path, tracer)
        for name, span in (
            ("session.build_s", "session.build"),
            ("ship.ensure_s", "ship.ensure"),
            ("setup.warmup_s", "setup.warmup"),
        ):
            values[name] = statistics.median(tracer.seconds(span))
        values["setup_s"] = import_s + statistics.median(tracer.seconds("setup"))
        report["import_s"] = import_s
        report["setup_s"] = summary(tracer.seconds("setup"))
        t = time.perf_counter()
        try:
            if not traced:
                run_extract(spark, corpus, cores, seconds, values, report, checks)
            else:
                with host.PeakRss() as rss:
                    trace_extract(spark, corpus, cores, tracer, values, report, checks)
                    trace_job(spark, corpus, cfg["job"], work, tracer, values, report, checks)
                values["spark.jvm_peak_rss_mb"] = rss.mb("jvm")
        except Exception as e:  # a run that raises is a failed operation, still reported
            traceback.print_exc(file=sys.stderr)
            checks.check(False, f"run raised {type(e).__name__}: {e}")
        report["measure_and_check_s"] = time.perf_counter() - t
        report["regime"] = host.regime(spark, ROOT, ship._PKG_DIR, corpus.key, load_before)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(os.path.join(work, "job"), ignore_errors=True)

    trace_file = os.path.join(work, f"trace-{cfg['name']}-{seed}.json")
    tracer.dump(trace_file)
    report["trace_file"] = trace_file
    report["failed_frac"] = checks.failed / max(checks.attempted, 1)
    report["problems"] = checks.problems
    spec_out = metrics.PER_LAYER if traced else metrics.END_TO_END
    return {
        "correct": checks.failed == 0,
        "attempted": max(checks.attempted, 1),
        "failed": checks.failed if checks.attempted else 1,
        "metrics": metrics.render({k: values.get(k, 0) for k in spec_out}, spec_out),
        "report": report,
    }
