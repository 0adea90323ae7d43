"""One benchmark run: one workload, one ``local[N]`` Spark session, one
closed-loop client.

``run.py`` starts this script in a child process with the environment
already set (see ``run.py``), so the JVM it launches picks up
``PYSPARK_SUBMIT_ARGS``. Phases, in order:

1. generate the seeded inputs (not timed);
2. set-up, ``SETUP_REPS`` times: session start plus every ingest table
   the workload scans, built into a fresh cache root;
3. one timed pass, each call and each collect under its own span. The
   pass runs in the JVM as set-up left it, as a batch job's single pass
   would. On the sizes in ``workloads.json`` a pass lasts longer than
   ``run_seconds`` in ``BENCHMARK.json``;
4. output checks of the pass's results against the DuckDB oracle (not
   timed);
5. with ``--trace``: per-layer numbers from the spans and from Spark's
   event log, read after the session stopped.

The result is one JSON object written to ``--out``.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import sys
import time

import check
import gen
from trace import (EventLog, RssSampler, Tracer, median, rate, ratio, tree_cpu_seconds,
                   tree_thread_cpu_seconds)

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "workloads.json")) as _fh:
    SPEC = json.load(_fh)

SETUP_REPS = 3
_T0 = time.perf_counter()


def cpu(end: bool = False) -> dict:
    """CPU sample of this process's tree for a span's start (``cpu0``,
    ``jit0``) or end (``cpu1``, ``jit1``): all CPU, and the JVM's JIT
    compiler threads' share of it."""
    i, pid = int(end), os.getpid()
    return {f"cpu{i}": tree_cpu_seconds(pid), f"jit{i}": tree_thread_cpu_seconds(pid)}


def work_cpu_s(span: dict) -> float:
    """CPU seconds spent in ``span`` outside the JIT compiler threads."""
    return (span["cpu1"] - span["cpu0"]) - (span["jit1"] - span["jit0"])


def log(msg: str) -> None:
    """Progress line on stderr (the worker log), with elapsed seconds."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one run: session, spans, operation counts, check results."""

    def __init__(self, args):
        self.args = args
        self.sizes = SPEC["workloads"][args.workload]["sizes"]
        self.work = os.path.abspath(args.work)
        self.tracer = Tracer(args.run_id)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.frames: dict = {}  # outputs of the timed pass, by op name
        self.layers: dict[str, float] = {}
        self.pass_id: int | None = None  # span of the timed pass

    # ---------------------------------------------------------- spans
    def job(self) -> int:
        """Next Spark job id: the jobs a span ran are ``[job0, job1)``.
        Counting by id range also covers jobs started from the engine's
        own threads (resume's bucket pool, streaming micro-batches)."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def begin(self, name, parent=None, **attrs):
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(name, name)
        return self.tracer.begin(name, parent, job0=self.job(), **attrs)

    def end(self, sid, **attrs):
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(None, None)
        return self.tracer.end(sid, job1=self.job(), **attrs)

    def fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:400])

    def op(self, name, kind, fn, parent) -> None:
        """One attempted operation under span ``name``. A ``query`` op
        builds a DataFrame (``<name>:call``) and collects every column of
        it to the driver (``<name>:exec``); the first collect is kept for
        the output check. An ``eager`` op is one call (``<name>:call``):
        the streaming and resume entry points run their jobs inside it."""
        self.attempted += 1
        sid = self.tracer.begin(name, parent, **cpu())
        try:
            c = self.begin(f"{name}:call", sid)
            try:
                out = fn()
            finally:
                self.end(c)
            if kind == "eager":
                self.tracer.spans[c]["result"] = out
            else:
                e = self.begin(f"{name}:exec", sid)
                try:
                    frame = out.toPandas()
                finally:
                    self.end(e)
                self.frames.setdefault(name, frame)
                self.tracer.spans[e]["rows"] = len(frame)
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            self.fail(name, exc)
        finally:
            self.tracer.end(sid, **cpu(end=True))

    # --------------------------------------------------------- set-up
    def start_session(self):
        from serbian_osm_lint_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, workload) -> float:
        """``SETUP_REPS`` cold set-ups; returns the median total. The last
        one's session and cache root serve the timed phase."""
        totals, per_table = [], {}
        for r in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            root = os.path.join(self.work, f"cache{r}")
            os.environ["SPARK_GRAFT_CACHE"] = root
            t0 = time.perf_counter()
            sid = self.tracer.begin("session.start")
            self.spark = self.start_session()
            self.tracer.end(sid)
            per_table.setdefault("session.start", []).append(self.tracer.duration(sid))
            for name, fn in workload.ingest(self):
                sid = self.tracer.begin(name)
                fn()
                self.tracer.end(sid)
                per_table.setdefault(name, []).append(self.tracer.duration(sid))
            totals.append(time.perf_counter() - t0)
            log(f"set-up {r}: {totals[-1]:.2f}s " + " ".join(
                f"{k}={v[-1]:.2f}" for k, v in per_table.items()))
            if r:
                shutil.rmtree(os.path.join(self.work, f"cache{r - 1}"), ignore_errors=True)
        for name, xs in per_table.items():
            self.layers[f"{name}.setup_s"] = median(xs)
        return median(totals)

    # ----------------------------------------------------------- timed
    def timed_pass(self, workload) -> float:
        """One closed-loop pass over the workload's ops; returns its wall
        time. There is no warm-up pass: a batch job pays its JIT and
        codegen warm-up on every run."""
        p = self.pass_id = self.tracer.begin("pass", **cpu())
        for name, kind, fn in workload.ops(self):
            self.op(name, kind, fn, p)
        self.tracer.end(p, **cpu(end=True))
        span = self.tracer.spans[p]
        log(f"pass: {self.tracer.duration(p):.2f}s cpu={work_cpu_s(span):.2f}s "
            f"jit={span['jit1'] - span['jit0']:.2f}s " + " ".join(
            f"{q['name']}={q['end'] - q['start']:.2f}" for q in self.tracer.children(p)))
        return self.tracer.duration(p)

    def timed_op(self, name) -> dict | None:
        """Span of op ``name`` in the timed pass, if it ran there."""
        return next((s for s in self.tracer.children(self.pass_id) if s["name"] == name), None)

    def op_cpu_s(self, name) -> float:
        """CPU seconds of the process tree during op ``name``, JIT
        compilation left out."""
        return work_cpu_s(self.timed_op(name))

    def span_layers(self, names) -> None:
        """Call/exec time and job count per op of the timed pass."""
        for name in names:
            q = self.timed_op(name)
            if q is None:
                continue
            kids = self.tracer.children(q["id"])
            for s in kids:
                key = "call_s" if s["name"].endswith(":call") else "exec_s"
                self.layers[f"{name}.{key}"] = s["end"] - s["start"]
            self.layers[f"{name}.jobs"] = sum(s["job1"] - s["job0"] for s in kids)

    # ----------------------------------------------------------- checks
    def duck(self, sf_dir: str):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return con

    def verify(self, name: str, fn) -> None:
        """Run one output check (not timed); a mismatch or an error counts
        as a failed operation."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            self.fail(f"check {name}", exc)
            ok = False
        else:
            if not ok:
                self.failed += 1
                self.errors.append(f"check {name}: output mismatch")
        self.checks[name] = ok

    # --------------------------------------------------------- trace
    def trace_layers(self, names) -> None:
        """Per-op task/shuffle/join numbers of the timed pass from the
        event log of the session that ran it."""
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        log = EventLog(os.path.join(self.work, "events", app))
        for name in names:
            q = self.timed_op(name)
            if q is None:
                continue
            kids = self.tracer.children(q["id"])
            s = log.summarize(range(kids[0]["job0"], kids[-1]["job1"]))
            s["useful_ratio"] = ratio(kids[-1].get("rows", 0), s["join_rows"])
            for key in ("task_cpu_s", "shuffle_mb", "skew", "python_s", "join_rows",
                        "spill_mb", "useful_ratio"):
                self.layers[f"{name}.{key}"] = s[key]

    def pass_cpu_s(self) -> float:
        """CPU seconds of the process tree (driver JVM, Python workers,
        this process) during the timed pass, without the JVM's JIT
        compiler threads: their share is about half of the total on a
        pass this short and swings by several seconds from run to run."""
        return work_cpu_s(self.tracer.spans[self.pass_id])

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JIT compiler threads during the timed pass."""
        p = self.tracer.spans[self.pass_id]
        return p["jit1"] - p["jit0"]

    def self_share(self) -> float:
        """Share of the timed pass's wall time not covered by its query
        spans."""
        return ratio(self.tracer.self_time(self.pass_id), self.tracer.duration(self.pass_id))


# ================================================================ workloads
def _entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.getcwd(), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(run, con, registry) -> dict:
    """Each query's frame from the timed pass against its ``oracle_sql()`` twin, run in
    DuckDB over the same generated directory. ``registry`` maps op name to
    the query's name in ``__spark_entry__``. Returns the oracle
    fingerprints by op name."""
    oracles = _entry().oracle_sql()
    wants = {}
    for name, reg in registry.items():
        def one(name=name, sql=oracles[reg]):
            wants[name] = check.fingerprint(con.execute(sql).df())
            return check.fingerprint(run.frames[name]) == wants[name]

        run.verify(name, one)
        log(f"checked {name}: {run.checks[name]}")
    return wants


class LintTiles:
    """North-star job plus its resumable face: lint verdicts and their
    per-check report, point-in-Serbia and media features (the two Arrow
    UDF paths), tiles and salted cells over one doc scan, and a resumed
    bucketed lint."""

    #: op name -> query name in ``__spark_entry__``
    REGISTRY = {
        "checks.lint_verdicts": "lint_verdicts",
        "spatial.tile_assignment": "tile_assignment",
        "report.per_check_report": "report_per_check",
        "spatial.point_in_serbia": "point_in_serbia",
        "spatial.cell_counts_salted": "cell_counts_salted",
        "media.media_features": "media_features",
    }

    OPS = [*REGISTRY, "resume.run_resumable"]

    def __init__(self, run: Run):
        self.sz = run.sizes
        self.sf = gen.make_sf(os.path.join(run.work, "inputs"), run.args.seed, self.sz["lint_docs"])
        self.st = os.path.join(run.work, "stream")

    def ingest(self, run):
        from serbian_osm_lint_spark.sources import catalog

        sp, sf = run.spark, self.sf
        return [
            ("catalog.docs_table", lambda: catalog.docs_table(sp, sf)),
            ("catalog.dims_tables", lambda: catalog.dims_tables(sp, sf)),
        ]

    def _lint(self, spark):
        """Per-bucket lint for ``resume.run_resumable``."""
        from serbian_osm_lint_spark.operators import checks
        from serbian_osm_lint_spark.sources import catalog

        wiki, wd = catalog.dims_tables(spark, self.sf)
        return lambda sess, subset: checks.lint_verdicts_df(sess, subset, wiki, wd)

    def prepare(self, run):
        """Not timed: a bucketed lint run killed after half the buckets,
        which the timed pass resumes."""
        from serbian_osm_lint_spark.sources import catalog
        from serbian_osm_lint_spark.streaming import resume

        sp = run.spark
        run.attempted += 1
        try:
            resume.run_resumable(
                sp, catalog.docs_table(sp, self.sf), self._lint(sp),
                os.path.join(self.st, "resume"), fail_after=catalog.N_DOC_BUCKETS // 2)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                run.fail("resume.killed", exc)
        else:
            run.fail("resume.killed", RuntimeError("the run was not killed"))

    def ops(self, run):
        from serbian_osm_lint_spark.operators import media, report, spatial
        from serbian_osm_lint_spark.plans import lint_pipeline
        from serbian_osm_lint_spark.sources import catalog
        from serbian_osm_lint_spark.streaming import resume

        sp, sf = run.spark, self.sf
        lint_op, tile_op = self.lint_tile_ops(run)
        return [
            lint_op,
            tile_op,
            ("report.per_check_report", "query", lambda: report.per_check_report_df(
                sp, lint_pipeline.build_verdicts(sp, sf))),
            ("spatial.point_in_serbia", "query", lambda: spatial.point_in_serbia_df(
                sp, catalog.docs_table(sp, sf))),
            ("spatial.cell_counts_salted", "query", lambda: spatial.cell_counts_salted_df(
                sp, catalog.docs_table(sp, sf))),
            ("media.media_features", "query", lambda: media.extract_media_features_df(
                sp, catalog.docs_table(sp, sf))),
            ("resume.run_resumable", "eager", lambda: resume.run_resumable(
                sp, catalog.docs_table(sp, sf), self._lint(sp), os.path.join(self.st, "resume"))),
        ]

    def lint_tile_ops(self, run):
        from serbian_osm_lint_spark.operators import spatial
        from serbian_osm_lint_spark.plans import lint_pipeline
        from serbian_osm_lint_spark.sources import catalog

        sp, sf = run.spark, self.sf
        return [
            ("checks.lint_verdicts", "query", lambda: lint_pipeline.build_verdicts(sp, sf)),
            ("spatial.tile_assignment", "query", lambda: spatial.tile_assignment_df(
                sp, catalog.docs_table(sp, sf))),
        ]

    def scaling_eff(self, run, docs_per_s: float) -> float:
        """``thr(N) / (N * thr(1))``: lint + tile throughput of the timed
        pass against a ``local[1]`` session over the same stored tables
        (one round to warm the new session up, one timed). Informational."""
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        run.spark = run.start_session()
        spent = 0.0
        for warm in (True, False):
            for name, kind, fn in self.lint_tile_ops(run):
                sid = run.tracer.begin(f"scaling.{name}")
                run.op(name, kind, fn, sid)
                if not warm:
                    spent += run.tracer.end(sid)
        return ratio(docs_per_s, n * rate(self.sz["lint_docs"], spent))

    def docs_per_s(self, run, pass_s):
        """Docs linted and tiled per second of wall time (the BASELINE
        headline) and per CPU second."""
        ops = ("checks.lint_verdicts", "spatial.tile_assignment")
        wall = sum(run.layers[f"{n}.{k}"] for n in ops for k in ("call_s", "exec_s"))
        cpu = sum(run.op_cpu_s(n) for n in ops)
        return rate(self.sz["lint_docs"], wall), rate(self.sz["lint_docs"], cpu)

    def checks(self, run):
        from serbian_osm_lint_spark.streaming import resume

        sp = run.spark
        con = run.duck(self.sf)
        pip = "spatial.point_in_serbia"
        wants = oracle_checks(run, con, {k: v for k, v in self.REGISTRY.items() if k != pip})
        run.verify(pip, lambda: self.point_in_serbia_matches(run, con))
        log(f"checked {pip}: {run.checks[pip]}")

        def resumed():
            cols = list(run.frames["checks.lint_verdicts"].columns)
            got = resume.read_result(sp, os.path.join(self.st, "resume")).select(*cols).toPandas()
            return check.fingerprint(got) == wants["checks.lint_verdicts"]

        run.verify("resume.run_resumable==lint_verdicts", resumed)
        con.close()

    def point_in_serbia_matches(self, run, con) -> bool:
        """Every doc once. Docs off the polygon's edges against the DuckDB
        oracle; docs on an edge (``check.on_edges``) against the engine's
        scalar ray cast ``spatial.point_in_polygon_py`` over the engine's
        own coordinates. On an edge the oracle's answer is no reference:
        it derives the coordinates and the crossing in decimal arithmetic,
        and it is no closer to exact arithmetic over the stored doubles
        than the engine is."""
        from serbian_osm_lint_spark.operators import spatial
        from serbian_osm_lint_spark.operators.spans import with_flat_entity
        from serbian_osm_lint_spark.sources import catalog

        got = run.frames["spatial.point_in_serbia"]
        want = con.execute(_entry().oracle_sql()["point_in_serbia"]).df()
        pts = with_flat_entity(catalog.docs_table(run.spark, self.sf)).select(
            "doc_id", "lat", "lon").toPandas()
        pts = pts[check.on_edges(pts["lat"], pts["lon"], spatial.EDGES)]
        ref = {d: spatial.point_in_polygon_py(la, lo)
               for d, la, lo in zip(pts["doc_id"], pts["lat"], pts["lon"])}
        on = got[got["doc_id"].isin(ref)]
        edge_want = want[want["doc_id"].isin(ref)]
        differ = sum(ref[d] != bool(v) for d, v in zip(edge_want["doc_id"], edge_want["in_serbia"]))
        log(f"point_in_serbia: {len(ref)} docs on an edge; the oracle differs on {differ}")
        return (
            sorted(on["doc_id"]) == sorted(ref)
            and all(ref[d] == bool(v) for d, v in zip(on["doc_id"], on["in_serbia"]))
            and check.fingerprint(got[~got["doc_id"].isin(ref)])
            == check.fingerprint(want[~want["doc_id"].isin(ref)])
        )


class PairSearch:
    """Self-join, band-join and top-k family: stored MinHash pairs, SimHash
    pairs, IVF top-k, uncapped kNN duplicate names on a lint corpus of its
    own, and one incremental near-dup micro-batch against the stored
    signature table; the checks layer is idle."""

    REGISTRY = {
        "dedup.minhash_lsh_pairs_stored": "minhash_lsh_pairs_stored",
        "dedup.simhash_near_dups": "simhash_near_dups",
        "similarity.ann_ivf_topk": "ann_ivf_topk",
        "spatial.knn_dup_names": "knn_dup_names",
    }

    OPS = [*REGISTRY, "stream.near_dup_step"]

    def __init__(self, run: Run):
        sz = self.sz = run.sizes
        self.sf = gen.make_sf(os.path.join(run.work, "inputs"), run.args.seed,
                              sz["knn_docs"], sz["texts"], sz["vectors"])
        gen.make_arrival_texts(self.sf, run.args.seed, sz["arrival_texts"])
        self.st = os.path.join(run.work, "stream")

    def ingest(self, run):
        from serbian_osm_lint_spark.operators import dedup
        from serbian_osm_lint_spark.sources import catalog

        sp, sf = run.spark, self.sf
        return [
            ("catalog.docs_table", lambda: catalog.docs_table(sp, sf)),
            ("dedup.minhash_sig_table", lambda: dedup.minhash_sig_table(sp, sf)),
        ]

    def prepare(self, run):
        """Seed the stream's signature store with the stored signature
        table (not timed)."""
        from serbian_osm_lint_spark.operators import dedup
        from serbian_osm_lint_spark.sources import catalog

        seed = os.path.join(catalog._cache_root(), dedup.minhash_sig_key(self.sf))
        shutil.copytree(seed, os.path.join(self.st, "sigs", "batch_id=-1"))
        os.makedirs(os.path.join(self.st, "texts_in"))

    def ops(self, run):
        from serbian_osm_lint_spark.operators import dedup, similarity, spatial
        from serbian_osm_lint_spark.sources import catalog
        from serbian_osm_lint_spark.streaming import stream

        sp, sf, st = run.spark, self.sf, self.st

        def near_dup_step():
            shutil.copy(os.path.join(sf, gen.ARRIVALS), os.path.join(st, "texts_in"))
            return stream.stream_near_dup_pairs_incremental(
                sp, os.path.join(st, "texts_in"), os.path.join(st, "sigs"),
                os.path.join(st, "out"), os.path.join(st, "ckpt"))

        return [
            ("dedup.minhash_lsh_pairs_stored", "query",
             lambda: dedup.minhash_lsh_pairs_stored_df(sp, sf)),
            ("dedup.simhash_near_dups", "query", lambda: dedup.simhash_near_dups_df(sp, sf)),
            ("similarity.ann_ivf_topk", "query", lambda: similarity.ann_ivf_topk_df(sp, sf)),
            ("spatial.knn_dup_names", "query", lambda: spatial.knn_dup_names_df(
                sp, catalog.docs_table(sp, sf))),
            ("stream.near_dup_step", "eager", near_dup_step),
        ]

    def docs_per_s(self, run, pass_s):
        """Texts, vectors and kNN docs searched per second of a pass, of
        wall time and of CPU time."""
        sz = self.sz
        n = sz["texts"] + sz["vectors"] + sz["arrival_texts"] + sz["knn_docs"]
        return rate(n, pass_s), rate(n, run.pass_cpu_s())

    def checks(self, run):
        from pyspark.sql import functions as F

        from serbian_osm_lint_spark.operators import dedup, similarity

        sp, sf, fr = run.spark, self.sf, run.frames
        con = run.duck(sf)
        oracle_checks(run, con, self.REGISTRY)
        con.close()
        # the stored face against its recompute twin
        minhash = fr["dedup.minhash_lsh_pairs_stored"]
        run.verify("dedup.minhash_lsh_pairs_stored==minhash_lsh_pairs", lambda: check.fingerprint(
            minhash) == check.fingerprint(dedup.minhash_lsh_pairs_df(sp, sf).toPandas()))

        def streamed():
            import pandas as pd

            arrived = sp.read.parquet(os.path.join(self.st, "texts_in")).select(
                F.col("doc_id").cast("long"), "text")
            batch = dedup.lsh_verified_pairs_from(
                dedup.with_near_dups_df(sp, sf).unionByName(arrived)).toPandas()
            got = sp.read.parquet(os.path.join(self.st, "out", "pairs"))
            got = got.select(*batch.columns).toPandas()
            once = not got.duplicated(["doc_id_a", "doc_id_b"]).any()
            # streamed pairs plus the seed corpus' own pairs = batch pairs
            union = pd.concat([got, minhash[list(batch.columns)]])
            return once and check.fingerprint(union.drop_duplicates()) == check.fingerprint(batch)

        run.verify("stream.near_dup_step==batch_pairs", streamed)


WORKLOADS = {"lint_tiles": LintTiles, "pair_search": PairSearch}


# ==================================================================== main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run")
    args = ap.parse_args(argv)

    run = Run(args)
    wl = WORKLOADS[args.workload](run)
    log("inputs generated")
    with RssSampler() as sampler:
        setup_s = run.setup(wl)
        wl.prepare(run)
        pass_s = run.timed_pass(wl)
    run.span_layers(wl.OPS)
    resumed = run.timed_op("resume.run_resumable")
    if resumed is not None:
        run.layers["resume.run_resumable.buckets"] = run.tracer.children(
            resumed["id"])[0].get("result") or 0
    docs_per_s, docs_per_cpu_s = wl.docs_per_s(run, pass_s)
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": run.pass_cpu_s(),
        "docs_per_cpu_s": docs_per_cpu_s,
    }
    run.layers["workload.pass.wall_s"] = pass_s
    run.layers["workload.pass.docs_per_s"] = docs_per_s
    run.layers["process.peak_rss_mb"] = sampler.peak_mb
    run.layers["process.jit_cpu_s"] = run.jit_cpu_s()
    wl.checks(run)
    log("checks done")
    if args.trace:
        run.layers["trace.pass.self_share"] = run.self_share()
        run.trace_layers(wl.OPS)
        if isinstance(wl, LintTiles):
            run.layers["scaling.lint_tiles.scaling_eff"] = wl.scaling_eff(run, docs_per_s)
        run.tracer.dump(os.path.join(run.work, "spans.jsonl"))
    if run.spark is not None:
        run.spark.stop()
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "e2e": e2e,
        "layers": run.layers,
        "attempted": run.attempted,
        "failed": run.failed,
        "checks": run.checks,
        "errors": run.errors,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    shutdown_gateway()
    return 0


def shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall back to a hard stop
                proc.kill()
                proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
