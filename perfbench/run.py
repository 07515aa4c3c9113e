#!/usr/bin/env python3
"""The extraction benchmark: one workload per invocation, run from the root
of a source checkout.

    python3 perfbench/run.py --workload spans_extract --seed 3 --seconds 20 --trace 0

Workloads (inputs are staged from ``--seed`` before the clock starts; the
program sees only the staged files):

* ``spans_extract``  the canonical spans table through ``pipeline.run``
* ``spans_bulk``     the same with three times the docs
* ``spans_resume``   the same corpus through ``checkpoint.run_with_resume``
                     in batches with redelivered doc_ids
* ``pdf_ingest``     real PDF files through ``build_raw_docs``
* ``operator_board`` bench.py's 26 headline queries (needs ``--sf-dir``)

Each run sets up one Spark session, runs one cold unit, then a fixed number
of timed units: ``--seconds`` divided by the workload's nominal unit time,
rounded, at least one. Every unit's
output is checked (see ``perfbench/README.md``). With ``--trace 0`` the last
stdout line holds the end-to-end metrics; with ``--trace 1`` the Spark event
log is on, each pipeline layer is materialized on its own, and the last line
holds the per-layer metrics. The line before it holds the host context.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

EXTRACT_DOCS = 1008          # docs per unit; one corpus slot
BULK_DOCS = 3024             # three slots
REDELIVER_EVERY = 4          # every 4th doc of an earlier batch comes again
PDF_DOCS = 216
PDF_LONG = 2                 # statements of 120 pages
PDF_SAMPLE_DOCS = 36         # traced spans runs: one period of gen_doc's class mix
DRIVER_MEMORY = "3g"
BANKS = ("union", "canara", "apgvb")

# nominal timed-unit wall time per workload on the 4-core baseline host (s);
# it fixes how many timed units a given --seconds buys
UNIT_S = {"spans_extract": 10.0, "spans_bulk": 14.0, "spans_resume": 15.0,
          "pdf_ingest": 130.0, "operator_board": 27.0}

UNITS = {"setup_s": "s", "job_s": "s", "docs_per_sec": "1/s", "peak_rss_mb": "MB"}


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def host_context(cpus: int) -> dict:
    import cryptography
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"nproc": cpus, "loadavg_before": os.getloadavg(), "python": platform.python_version(),
            "spark": pyspark.__version__, "cryptography": cryptography.__version__,
            "git_sha": sha, "host": platform.node()}


# -- session ---------------------------------------------------------------------

def start_session(cpus: int, trace: bool):
    """Start Spark and import aide_spark; return (spark, session_s, import_s)."""
    from pyspark.sql import SparkSession

    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
                f"-Dderby.system.home={os.path.join(WORK, 'warehouse')}")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(WORK, "events"))
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = process_age()
    t0 = time.perf_counter()
    import aide_spark  # noqa: F401 — runs the package's import-time warm jobs

    return spark, session_s, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop Spark, end the driver JVM and wait until it and every Python
    worker it forked have exited. Left alone, the JVM exits only after this
    process has, once it reads EOF on its stdin, so it would outlive the run.
    ``spark`` is None when the session did not come up; a JVM that was
    launched is ended all the same."""
    from pyspark import SparkContext

    from perftrace import descendants, end_processes

    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes({**procs, **descendants(os.getpid())})


# -- checks ----------------------------------------------------------------------

def span_hash():
    """xxhash64 over every spans_out column, masked to 32 bits: unmasked, a
    sum of it overflows under ANSI mode."""
    from pyspark.sql import functions as F

    return F.xxhash64("doc_id", "seq", "kind", "text", "media_ref").bitwiseAND(F.lit(0xFFFFFFFF))


def digest_frame(spans):
    """One aggregate over every output column: row count plus hash sum."""
    from pyspark.sql import functions as F

    return spans.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(span_hash()), F.lit(0)).alias("h"))


def run_digest(spans) -> tuple[tuple[int, int], float]:
    """Plan the digest query, then execute it; return (digest, exec_s)."""
    qe = digest_frame(spans)._jdf.queryExecution()
    qe.executedPlan()
    t0 = time.perf_counter()
    row = qe.executedPlan().executeCollect()[0]
    return (row.getLong(0), row.getLong(1)), time.perf_counter() - t0


def quarantine_hist(quarantine) -> dict[str, int]:
    return {r["error_code"]: r["count"] for r in quarantine.groupBy("error_code").count().collect()}


class Bench:
    """State of one benchmark run."""

    def __init__(self, spark, args, cpus: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.args = args
        self.cpus = cpus
        self.tracer = tracer

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def units(self, unit, unit_s: float) -> tuple[dict, list[dict]]:
        """The cold unit, then round(--seconds / unit_s) timed units, at
        least one. ``unit_s`` is the workload's nominal unit time, so the
        count depends on the arguments alone, never on how fast a unit ran:
        a faster first unit must not buy a second, warmer one.
        Returns (cold, timed); a unit that raises fails all its docs and
        has ``failed`` None."""

        def guarded(name):
            with self.tracer.span(name):
                self.group(name)
                t0 = time.perf_counter()
                try:
                    return unit(name)
                except Exception:  # a failed Spark job fails every doc in it
                    traceback.print_exc()
                    return {"group": name, "job_s": time.perf_counter() - t0, "failed": None}

        cold = guarded("cold")
        count = max(1, round(self.args.seconds / unit_s))
        return cold, [guarded(f"unit{k}") for k in range(count)]


def tally(units: list[dict], docs_per_unit: int) -> tuple[int, int]:
    docs = [u.get("docs", docs_per_unit) for u in units]
    failed = sum(d if u["failed"] is None else u["failed"] for d, u in zip(docs, units))
    return sum(docs), failed


# -- per-layer decomposition (traced runs) ------------------------------------------

def materialize(b: Bench, name: str, df, parents: list[str], layers: dict) -> None:
    """Execute ``df``'s full physical plan under job group ``layer:name`` and
    count its rows; every column of every row is computed, nothing is
    written or collected."""
    with b.tracer.span(f"layer:{name}"):
        b.group(f"layer:{name}")
        t0 = time.perf_counter()
        rows = df._jdf.queryExecution().executedPlan().execute().count()
        layers[name] = {"cum_s": time.perf_counter() - t0, "rows": rows, "parents": parents}


def materialized_run(docs) -> tuple[dict, float]:
    """``pipeline.run(docs, persist=True)`` with its spans_out digest
    executed, which materializes the checkpointed transactions and
    metadata; return (the outputs, planning time before execution)."""
    from aide_spark.plans import pipeline

    t0 = time.perf_counter()
    out = pipeline.run(docs, persist=True)
    _, exec_s = run_digest(out["spans_out"])
    return out, time.perf_counter() - t0 - exec_s


def decompose(b: Bench, docs, out: dict) -> dict:
    """Materialize each pipeline layer cumulatively; return name → record.

    ``out`` is ``pipeline.run(docs, persist=True)`` with its checkpointed
    transactions and metadata already materialized (by a unit, or by
    ``materialized_run``). Summary, assembly and the results envelope are
    materialized over that checkpoint, as the pipeline runs them; the
    layers before it are built again from the operators, one per job."""
    from pyspark.sql import functions as F

    from aide_spark.operators import apgvb_parser, canara_parser, union_parser
    from aide_spark.operators.lines import head_lines_frame, line_table
    from aide_spark.plans import pipeline

    layers: dict = {}
    val, valid, quarantine = pipeline.split_valid(docs)
    lines = line_table(valid, carry=("bank_id",))
    materialize(b, "scan", docs, [], layers)
    materialize(b, "validate", val, ["scan"], layers)
    materialize(b, "quarantine", quarantine, ["scan"], layers)
    materialize(b, "lines", lines, ["validate"], layers)
    mods = {"union": union_parser, "canara": canara_parser, "apgvb": apgvb_parser}
    for bank, mod in mods.items():
        code = bank.upper()
        # the bank filter is pushed into the scan, so each branch's inputs
        # are materialized on their own as the parents of its parse layers
        b_docs = valid.where(F.col("bank_id") == code)
        b_lines = lines.where(F.col("bank_id") == code).drop("bank_id")
        materialize(b, f"parse.{bank}.docs", b_docs, [], layers)
        materialize(b, f"parse.{bank}.lines", b_lines, [], layers)
        materialize(b, f"parse.{bank}.txn", mod.transactions(b_lines), [f"parse.{bank}.lines"], layers)
        materialize(b, f"parse.{bank}.meta",
                    mod.metadata(head_lines_frame(b_docs, two_pages=bank == "apgvb")),
                    [f"parse.{bank}.docs"], layers)
    materialize(b, "parse.summary", out["summaries"], [], layers)
    materialize(b, "assemble", out["spans_out"], ["scan"], layers)
    materialize(b, "results", out["results"], [], layers)
    return layers


def layer_metrics(layers: dict, groups: dict) -> dict:
    """Self times from the cumulative layers plus event-log task numbers."""
    from perftrace import GroupStats

    def g(name):
        return groups.get(f"layer:{name}", GroupStats())

    def self_wall(name):
        rec = layers[name]
        return max(rec["cum_s"] - sum(layers[p]["cum_s"] for p in rec["parents"]), 0.0)

    def self_task(name):
        rec = layers[name]
        return max(g(name).run_ms - sum(g(p).run_ms for p in rec["parents"]), 0) / 1000

    m = {
        "scan.wall_s": layers["scan"]["cum_s"],
        "validate.wall_s": self_wall("validate"),
        "validate.task_s": self_task("validate"),
        "validate.task_skew": g("validate").skew(),
        "validate.quarantined": layers["quarantine"]["rows"],
        "lines.wall_s": self_wall("lines"),
        "lines.rows_out": layers["lines"]["rows"],
        "parse.summary.wall_s": layers["parse.summary"]["cum_s"],
        "assemble.wall_s": self_wall("assemble"),
        "results.wall_s": layers["results"]["cum_s"],
    }
    for bank in BANKS:
        txn = f"parse.{bank}.txn"
        m[f"{txn}.wall_s"] = self_wall(txn)
        m[f"{txn}.task_s"] = self_task(txn)
        m[f"{txn}.shuffle_read_mb"] = g(txn).shuffle_read / 2**20
        m[f"{txn}.rows_out"] = layers[txn]["rows"]
        m[f"parse.{bank}.meta.wall_s"] = self_wall(f"parse.{bank}.meta")
    return m


def unit_metrics(timed: list[dict], groups: dict) -> dict:
    """Median per-unit Spark totals of the timed units."""
    from perftrace import GroupStats

    stats = [groups.get(u["group"], GroupStats()) for u in timed]
    return {
        "pipeline.tasks": median([s.tasks for s in stats]),
        "pipeline.exchanges": median([len(s.shuffle_stages) for s in stats]),
        "pipeline.shuffle_write_mb": median([s.shuffle_write / 2**20 for s in stats]),
        "pipeline.gc_s": median([s.gc_ms / 1000 for s in stats]),
        "pipeline.spill_mb": median([s.spill_bytes / 2**20 for s in stats]),
    }


# -- spans_extract ----------------------------------------------------------------

def load_golden(n_docs: int, seed: int) -> tuple[int, int]:
    """Golden digest of ``seed``'s corpus: the sum of its slots' digests."""
    import corpus
    from aide_spark.generator import GENERATOR_VERSION

    with open(os.path.join(HERE, "golden.json")) as fh:
        golden = json.load(fh)
    key = f"g{GENERATOR_VERSION}-n{corpus.SLOT_DOCS}"
    if key not in golden:
        raise SystemExit(f"golden.json has no digests for {key}; run perfbench/golden.py")
    r = corpus.index_range(seed, n_docs)
    slots = [golden[key][str(k)] for k in range(r.start // corpus.SLOT_DOCS, r.stop // corpus.SLOT_DOCS)]
    return sum(s[0] for s in slots), sum(s[1] for s in slots)


def spans_extract(b: Bench, n: int = EXTRACT_DOCS) -> dict:
    import corpus
    from aide_spark.plans import pipeline

    t0 = time.perf_counter()
    path = corpus.stage_corpus(WORK, b.args.seed, n, max(b.cpus, 8))
    stage_aesv3_sample()
    stage_s = time.perf_counter() - t0
    expect_q = corpus.expected_quarantine(_doc_ids(b.args.seed, n))
    expect = load_golden(n, b.args.seed)
    docs = b.spark.read.parquet(path)
    kept = {}

    def release(out):
        pipeline.release(out)
        b.spark.catalog.clearCache()

    def unit(group):
        if kept:
            release(kept.pop("out"))
        t0 = time.perf_counter()
        out = pipeline.run(docs, persist=True)
        digest, exec_s = run_digest(out["spans_out"])
        job_s = time.perf_counter() - t0
        hist = quarantine_hist(out["quarantine"])
        if b.args.trace:
            # the traced layers reuse the last unit's materialized checkpoint
            # rather than building and running the pipeline once more
            kept["out"] = out
        else:
            release(out)
        ok = digest == expect and hist == expect_q
        if not ok:
            print(f"{group}: digest {digest} vs golden {expect}; quarantine {hist} "
                  f"vs taxonomy {expect_q}", file=sys.stderr)
        return {"group": group, "job_s": job_s, "exec_s": exec_s,
                "failed": 0 if ok else n}

    cold, timed = b.units(unit, UNIT_S[b.args.workload])
    res = {"stage_s": stage_s, "docs": n, "cold": cold, "timed": timed}
    if b.args.trace:
        out = kept.pop("out", None) or materialized_run(docs)[0]
        res["layers"] = decompose(b, docs, out)
        release(out)
        # one spans_resume unit and a small pdf_ingest sample, so the
        # checkpoint, decode and ingest layers are measured on this
        # workload's traced run too
        with b.tracer.span("resume"):
            b.group("resume")
            res["resume"] = resume_unit(b, timed_store_class())[0]("resume")
        res["pdf"] = pdf_sample(b)
    return res


def spans_bulk(b: Bench) -> dict:
    return spans_extract(b, BULK_DOCS)


def _doc_ids(seed: int, n: int) -> list[str]:
    import corpus
    from aide_spark.generator import gen_doc

    return [gen_doc(i)["doc_id"] for i in corpus.index_range(seed, n)]


# -- spans_resume -----------------------------------------------------------------

def timed_store_class():
    from aide_spark.plans.checkpoint import SnapshotStore

    class TimedStore(SnapshotStore):
        """SnapshotStore that adds the time spent in each of its calls."""

        def __init__(self, base):
            super().__init__(base)
            self.times = defaultdict(float)

        def _timed(self, key, fn, *a):
            t0 = time.perf_counter()
            try:
                return fn(*a)
            finally:
                self.times[key] += time.perf_counter() - t0

        def stage(self, df, table, batch_id):
            return self._timed(f"stage_s.{table}", super().stage, df, table, batch_id)

        def read(self, spark, table, as_of=None):
            return self._timed("read_s", super().read, spark, table, as_of)

        def commit(self, batch_id, stats):
            return self._timed("commit_s", super().commit, batch_id, stats)

    return TimedStore


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs) / 2**20


def resume_unit(b: Bench, store_cls):
    """Stage the spans_resume inputs; return (unit function, batch, stage_s)."""
    import corpus
    from pyspark.sql import functions as F

    from aide_spark.plans import checkpoint

    n = EXTRACT_DOCS
    t0 = time.perf_counter()
    batch_dir, prior, redelivered = corpus.stage_resume(
        WORK, b.args.seed, n, REDELIVER_EVERY, max(b.cpus, 8))
    stage_s = time.perf_counter() - t0
    expect = load_golden(n, b.args.seed)
    expect_q = corpus.expected_quarantine(_doc_ids(b.args.seed, n))
    batch = b.spark.read.parquet(batch_dir)
    read = checkpoint.SnapshotStore.read  # untimed reads for the checks

    def unit(group):
        base = os.path.join(WORK, "stores", uuid.uuid4().hex)
        shutil.copytree(prior, base)
        store = store_cls(base)
        t0 = time.perf_counter()
        r = checkpoint.run_with_resume(b.spark, batch, store, batch_id="batch")
        job_s = time.perf_counter() - t0
        rec = {"group": group, "job_s": job_s, "skipped": r["skipped_committed"], "docs": n}
        if hasattr(store, "times"):
            rec["store"] = dict(store.times)
            rec["written_mb"] = dir_mb(base)
        # checks, outside the clock: the committed spans equal a single-shot
        # run, and the lineage has one committed-or-quarantined row per doc
        b.group(f"{group}:check")
        digest, _ = run_digest(read(store, b.spark, "spans"))
        lrow = read(store, b.spark, "lineage").where(
            (F.col("batch_id") == "batch") & F.col("status").isin("committed", "quarantined")
        ).agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("doc_id").alias("docs")).collect()[0]
        hist = quarantine_hist(read(store, b.spark, "quarantine"))
        shutil.rmtree(base)
        ok = (digest == expect and lrow["rows"] == n and lrow["docs"] == n
              and hist == expect_q and r["skipped_committed"] == redelivered)
        if not ok:
            print(f"{group}: digest {digest} vs golden {expect}; lineage {lrow}; "
                  f"quarantine {hist} vs {expect_q}; skipped {r['skipped_committed']} "
                  f"vs {redelivered}", file=sys.stderr)
        rec["failed"] = 0 if ok else n
        return rec

    return unit, batch, stage_s


def spans_resume(b: Bench) -> dict:
    from aide_spark.plans import checkpoint, pipeline

    store_cls = timed_store_class() if b.args.trace else checkpoint.SnapshotStore
    unit, batch, stage_s = resume_unit(b, store_cls)
    cold, timed = b.units(unit, UNIT_S[b.args.workload])
    res = {"stage_s": stage_s, "docs": EXTRACT_DOCS, "cold": cold, "timed": timed}
    if b.args.trace:
        # plan_s: the planning a resume batch pays once more for every batch
        out, res["plan_s"] = materialized_run(batch)
        res["layers"] = decompose(b, batch, out)
        pipeline.release(out)
    return res


# -- pdf_ingest -------------------------------------------------------------------

def raw_docs(b: Bench, pdf_dir: str, pw_path: str):
    """The staged PDFs as the pipeline's docs table, through
    ``scripts/run_extraction.build_raw_docs``."""
    from scripts.run_extraction import build_raw_docs

    return build_raw_docs(b.spark, pdf_dir, pw_path)


def per_doc(docs) -> tuple[dict, dict]:
    """doc_id → spans digest and doc_id → error_code, from one pipeline run."""
    from pyspark.sql import functions as F

    from aide_spark.plans import pipeline

    out = pipeline.run(docs, persist=True)
    spans = {r["doc_id"]: (r["n"], r["h"]) for r in out["spans_out"].groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(span_hash()).alias("h")).collect()}
    codes = {r["doc_id"]: r["error_code"] for r in out["validation"].collect()}
    pipeline.release(out)
    return spans, codes


def compare_with_spans_path(b: Bench, pdf_dir: str, pw_path: str, plan):
    """Check the raw-PDF path doc by doc against the spans path run on the
    same docs and spans. A doc fails when its spans digest or error code
    differ, or when it is a silent drop. Returns (failed docs, silently
    dropped docs, the raw run's spans digest)."""
    from aide_spark.generator import gen_doc
    from aide_spark.schemas import DOCUMENTS

    rows = []
    for doc_id, spans, password, _cipher, encrypted in plan:
        d = gen_doc(int(doc_id.rsplit("-", 1)[1]))
        size = os.path.getsize(os.path.join(pdf_dir, f"{doc_id}.pdf")) / 2**20
        rows.append((doc_id, spans, d["bank_id"], password, encrypted, size, None))
    ref_spans, ref_codes = per_doc(b.spark.createDataFrame(rows, DOCUMENTS))
    raw_spans, raw_codes = per_doc(raw_docs(b, pdf_dir, pw_path))
    silent = sorted(d for d, c in raw_codes.items() if c == "VALID" and d not in raw_spans)
    bad = sorted(
        d for d in ref_codes
        if raw_spans.get(d) != ref_spans.get(d) or raw_codes.get(d) != ref_codes.get(d)
        or d in silent
    )
    if bad:
        print(f"pdf_ingest: {len(bad)} docs differ from the spans path, {len(silent)} of them "
              f"valid with no spans and no quarantine row: {bad[:12]}", file=sys.stderr)
    raw_digest = (sum(v[0] for v in raw_spans.values()), sum(v[1] for v in raw_spans.values()))
    return bad, silent, raw_digest


def ingest_layer(b: Bench, pdf_dir: str, pw_path: str):
    """Decode the staged PDFs once under job group ``layer:ingest``; return
    the checkpointed docs table and the wall time."""
    with b.tracer.span("layer:ingest"):
        b.group("layer:ingest")
        t0 = time.perf_counter()
        decoded = raw_docs(b, pdf_dir, pw_path).localCheckpoint(eager=True)
        return decoded, time.perf_counter() - t0


def pdf_ingest(b: Bench) -> dict:
    import corpus

    from aide_spark.plans import pipeline

    t0 = time.perf_counter()
    pdf_dir, pw_path, plan = corpus.stage_pdfs(WORK, b.args.seed, PDF_DOCS, b.cpus, PDF_LONG)
    stage_s = time.perf_counter() - t0

    def unit(group):
        t0 = time.perf_counter()
        out = pipeline.run(raw_docs(b, pdf_dir, pw_path), persist=True)
        digest, exec_s = run_digest(out["spans_out"])
        job_s = time.perf_counter() - t0
        pipeline.release(out)
        b.spark.catalog.clearCache()
        return {"group": group, "job_s": job_s, "exec_s": exec_s, "digest": digest}

    cold, timed = b.units(unit, UNIT_S[b.args.workload])
    # per-doc accounting, outside the clock
    b.group("check")
    bad, silent, raw_digest = compare_with_spans_path(b, pdf_dir, pw_path, plan)
    for u in [cold, *timed]:
        if "digest" in u:  # units that raised already failed every doc
            u["failed"] = len(bad) if u["digest"] == raw_digest else len(plan)
    res = {"stage_s": stage_s, "docs": len(plan), "cold": cold, "timed": timed}
    if b.args.trace:
        decode_ms = decode_sample([(pdf_dir, plan)])
        decoded, ingest_s = ingest_layer(b, pdf_dir, pw_path)
        res["pdf"] = {"decode_ms": decode_ms, "ingest_s": ingest_s, "silent_drop_docs": len(silent)}
        out, _ = materialized_run(decoded)
        res["layers"] = decompose(b, decoded, out)
        pipeline.release(out)
    return res


def pdf_sample(b: Bench) -> dict:
    """pdf_ingest's layers on a small staged sample, for the traced spans runs.

    ``decode_pdf_full`` runs on the driver for each cipher, AESV3 included.
    The ingest layer and its check run on the plain, rc4 and aesv2 PDFs of
    one period of the class mix (an AESV3 doc would add about 9 s to every
    decode pass). The check validates the decoded docs: every doc must get
    the error code its taxonomy class implies. Valid docs without a bank_id
    are the known ``build_raw_docs`` drop: ``parse_all`` routes on bank_id,
    so they get neither spans nor a quarantine row. They are counted in
    ``ingest.silent_drop_docs`` instead of failing this run, and fail the
    pdf_ingest workload. A full pipeline run per side, as pdf_ingest checks,
    would add about 25 s to a traced run, which must end within 180 s."""
    import corpus

    from aide_spark.plans import pipeline

    t0 = time.perf_counter()
    pdf_dir, pw_path, plan = corpus.stage_pdfs(WORK, b.args.seed, PDF_SAMPLE_DOCS, 0, 0)
    stage_s = time.perf_counter() - t0
    with b.tracer.span("pdf_sample:decode"):
        decode_ms = decode_sample([(pdf_dir, plan), stage_aesv3_sample()])
    decoded, ingest_s = ingest_layer(b, pdf_dir, pw_path)
    with b.tracer.span("pdf_sample:check"):
        b.group("pdf_sample:check")
        val = pipeline.split_valid(decoded)[0]
        codes = {r["doc_id"]: r["error_code"] for r in val.select("doc_id", "error_code").collect()}
        banks = {r["doc_id"]: r["bank_id"] for r in decoded.select("doc_id", "bank_id").collect()}
    silent = sorted(d for d, c in codes.items() if c == "VALID" and banks[d] is None)
    expect = {p[0]: corpus.TAXONOMY_ERROR.get(corpus.taxonomy_class(p[0]), "VALID") for p in plan}
    bad = [d for d in expect if d not in silent and codes.get(d) != expect[d]]
    if bad:
        print(f"pdf sample: error codes differ from the taxonomy: "
              f"{[(d, codes.get(d)) for d in bad]}", file=sys.stderr)
    return {"job_s": ingest_s, "docs": len(plan), "failed": len(bad),
            "stage_s": stage_s, "decode_ms": decode_ms, "ingest_s": ingest_s,
            "silent_drop_docs": len(silent)}


def stage_aesv3_sample() -> tuple[str, list]:
    """The fixed, seed-independent PDFs whose one AESV3 doc the traced spans
    runs decode; return (pdf dir, plan). Encoding it costs about 27 s, so
    every spans run stages it, and the first run in a checkout pays."""
    import corpus

    pdf_dir, _, plan = corpus.stage_pdfs(WORK, 0, 4, 1, 0)
    return pdf_dir, plan


def decode_sample(staged, per_cipher: int = 3) -> dict:
    """Driver-side decode_pdf_full time per cipher (ms): the median over
    the first ``per_cipher`` docs of each cipher (one for aesv3) of the
    staged (pdf dir, plan) pairs."""
    from aide_spark.generator import CORRECT_PASSWORD
    from aide_spark.sources.pdf_codec import decode_pdf_full

    by = defaultdict(list)
    for pdf_dir, plan in staged:
        for doc_id, _spans, _pw, cipher, _enc in plan:
            if len(by[cipher or "plain"]) < (1 if cipher == "aesv3" else per_cipher):
                by[cipher or "plain"].append(os.path.join(pdf_dir, f"{doc_id}.pdf"))
    out = {}
    for cipher, paths in by.items():
        times = []
        for path in paths:
            with open(path, "rb") as fh:
                payload = fh.read()
            t0 = time.perf_counter()
            decode_pdf_full(payload, CORRECT_PASSWORD if cipher != "plain" else None)
            times.append((time.perf_counter() - t0) * 1000)
        out[cipher] = median(times)
    return out


# -- operator_board ---------------------------------------------------------------

def operator_board(b: Bench) -> dict:
    import duckdb
    from bench import HEADLINE

    from aide_spark.queries import QUERIES

    sf = b.args.sf_dir
    if not sf:
        raise SystemExit("operator_board needs --sf-dir (a TPC-H-style parquet directory)")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    expect = {q: con.sql(QUERIES[q][1]).fetchall().__len__() for q in HEADLINE}
    con.close()

    def unit(group):
        per, failed, t_all = {}, 0, time.perf_counter()
        for q in HEADLINE:
            t0 = time.perf_counter()
            qe = QUERIES[q][0](b.spark, sf).groupBy().count()._jdf.queryExecution()
            qe.executedPlan()
            t1 = time.perf_counter()
            rows = qe.executedPlan().executeCollect()[0].getLong(0)
            per[q] = (t1 - t0, time.perf_counter() - t1)
            failed += rows != expect[q]
            if rows != expect[q]:
                print(f"{q}: {rows} rows vs oracle {expect[q]}", file=sys.stderr)
        return {"group": group, "job_s": time.perf_counter() - t_all, "queries": per,
                "failed": failed}

    cold, timed = b.units(unit, UNIT_S[b.args.workload])
    return {"stage_s": 0.0, "docs": len(HEADLINE), "cold": cold, "timed": timed}


WORKLOADS = {"spans_extract": spans_extract, "spans_bulk": spans_bulk,
             "spans_resume": spans_resume,
             "pdf_ingest": pdf_ingest, "operator_board": operator_board}


# -- main -------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=None, help="query data for operator_board")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "aide_spark", "__init__.py")):
        print(f"no aide_spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the short-lived spark-submit launcher JVM: keep its files in WORK too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    from perftrace import GroupStats, RssSampler, Tracer, read_event_log

    cpus = len(os.sched_getaffinity(0))
    ctx = host_context(cpus)
    tracer = Tracer()
    spark = None
    # a SIGTERM unwinds through the finally below, so the JVM is ended too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        with RssSampler() as rss:
            spark, session_s, import_s = start_session(cpus, bool(args.trace))
            setup_s = process_age()
            b = Bench(spark, args, cpus, tracer)
            res = WORKLOADS[args.workload](b)
            app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)
    ctx.update(loadavg_after=os.getloadavg(), stage_s=res["stage_s"], run_id=tracer.run_id,
               workload=args.workload, seed=args.seed)

    # the traced spans runs also check their resume unit and pdf sample
    extra = [res[k] for k in ("resume", "pdf") if "docs" in res.get(k, {})]
    units = [res["cold"], *res["timed"], *extra]
    ctx["unit_job_s"] = [u["job_s"] for u in units]
    attempted, failed = tally(units, res["docs"])
    # a unit that raised stopped early: its wall time is no job time
    timed = [u for u in res["timed"] if u["failed"] is not None]
    job_s = [u["job_s"] for u in timed]
    if not args.trace:
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_kb / 1024}
        if timed:
            metrics["job_s"] = median(job_s)
        if timed and args.workload != "operator_board":
            # spans_resume cannot force planning before its writes, so its
            # rate includes planning (see README)
            exec_s = [u.get("exec_s", u["job_s"]) for u in timed]
            metrics["docs_per_sec"] = res["docs"] / median(exec_s)
    else:
        groups = read_event_log(os.path.join(WORK, "events"), app_id)
        metrics = {"init.session_s": session_s, "init.import_s": import_s}
        if res["cold"]["failed"] is not None:
            metrics["cold_job_s"] = res["cold"]["job_s"]
        if timed:
            metrics["trace.job_s"] = median(job_s)
            metrics.update(unit_metrics(timed, groups))
        if "layers" in res:
            metrics.update(layer_metrics(res["layers"], groups))
        if timed and args.workload in ("spans_extract", "spans_bulk"):
            metrics["pipeline.plan_s"] = median([u["job_s"] - u["exec_s"] for u in timed])
        if args.workload == "spans_resume":
            metrics["pipeline.plan_s"] = res["plan_s"]
        ck = [res["resume"]] if "resume" in res else timed
        for k in ("stage_s.spans", "stage_s.quarantine", "stage_s.lineage", "stage_s.metrics",
                  "read_s", "commit_s"):
            metrics[f"checkpoint.{k}"] = median([u.get("store", {}).get(k, 0.0) for u in ck])
        metrics["checkpoint.written_mb"] = median([u.get("written_mb", 0.0) for u in ck])
        metrics["checkpoint.skipped_docs"] = median([u.get("skipped", 0) for u in ck])
        if "pdf" in res:
            pdf = res["pdf"]
            ctx["pdf_sample_stage_s"] = pdf.get("stage_s")
            for cipher, ms in pdf["decode_ms"].items():
                metrics[f"pdf_codec.decode_ms.{cipher}"] = ms
            ig = groups.get("layer:ingest", GroupStats())
            metrics.update({"ingest.wall_s": pdf["ingest_s"], "ingest.task_s": ig.run_ms / 1000,
                            "ingest.task_skew": ig.skew(),
                            "ingest.silent_drop_docs": pdf["silent_drop_docs"]})
        if timed and args.workload == "operator_board":
            for q in timed[0]["queries"]:
                metrics[f"query.{q}.plan_s"] = median([u["queries"][q][0] for u in timed])
                metrics[f"query.{q}.exec_s"] = median([u["queries"][q][1] for u in timed])
        tracer.write(os.path.join(WORK, f"trace-{tracer.run_id}.jsonl"))
    out = {k: {"value": v, "unit": UNITS.get(k) or layer_unit(k)} for k, v in metrics.items()}
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 1 if failed else 0


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name: ``*_s`` seconds, ``*_mb``
    megabytes, ``*_ms`` milliseconds, ``*_skew`` a ratio, else a count."""
    for part in reversed(name.split(".")):
        for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms"), ("_skew", "ratio")):
            if part.endswith(suffix):
                return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
