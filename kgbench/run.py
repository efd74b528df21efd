"""KG-build benchmark: crawled pages -> committed graph tables.

Run from the root of a checkout:

    python3 kgbench/run.py --workload heavy_pages --seed 1 --seconds 16 --trace 0

Workloads (see README.md): `heavy_pages` and `entity_tail` time full
`run_pipeline` builds, `recrawl_delta` times `run_incremental` updates
(it is not in BENCHMARK.json while the incremental path fails its
rebuild-equality check). Calls run in a closed
loop, one at a time, on local[ncpu/2] from this one driver process, and
every call's output is checked. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1).

Everything the run writes lives under kgbench/_work/<pid>, removed on
exit; the Spark JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# heavy_pages: web-weight pages (48-96 facts) over ~2k entities
HEAVY_PAGES = 40
# entity_tail: light pages over dissimilar names (+ planted spellings)
TAIL_PAGES, TAIL_NAMES = 250, 750
# recrawl_delta: heavy base crawl, then a 5% / 1% / 1% recrawl
RECRAWL_PAGES = 200
# set-up (write_pages -> read_pages -> scan_pages) repeats; setup_s is
# their median
SETUP_REPEATS = 3
# driver heap: what the inputs need, and at most a quarter of the host
DRIVER_MEM_MB = 2048


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="kgbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"kgbench: {msg}", file=sys.stderr, flush=True)


def _driver_mem() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(512, min(DRIVER_MEM_MB, total_kb // 1024 // 4))}m"


def _dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """Inputs, set-up, one timed call and its checks."""

    def __init__(self, spark, seed: int, work: str) -> None:  # noqa: ANN001
        self.spark = spark
        self.seed = seed
        self.work = work
        self.setup_times: list[float] = []
        self.scan_rows = 0
        self.html_bytes = 0
        self.n_pages = 0

    def _ingest(self, rows: list[dict[str, Any]], name: str):  # noqa: ANN202
        """Pages through the program's source path: write_pages ->
        read_pages -> scan_pages, counted so the scan really runs."""
        from blarify_spark.sources.pages import (
            pages_from_rows,
            read_pages,
            scan_pages,
            write_pages,
        )

        path = os.path.join(self.work, "pages", name)
        write_pages(pages_from_rows(self.spark, rows), path)
        pages = scan_pages(read_pages(self.spark, path))
        return pages, pages.count()

    def _timed_ingest(self, rows: list[dict[str, Any]]):  # noqa: ANN202
        pages = None
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            pages, self.scan_rows = self._ingest(rows, f"setup{i}")
            self.setup_times.append(time.perf_counter() - t0)
        self.n_pages = len(rows)
        self.html_bytes = sum(len(r["html"]) for r in rows)
        return pages

    @property
    def setup_s(self) -> float:
        return statistics.median(self.setup_times)


class FullBuild(Workload):
    """Closed loop of full `run_pipeline` builds over one ingested crawl."""

    kind = "full"
    gate_inc_spellings = False

    def corpus(self) -> tuple[list[dict[str, Any]], list[list[str]]]:
        """(page rows, planted spelling groups) for this seed."""
        raise NotImplementedError

    def setup(self) -> None:
        from kgbench import checks

        rows, self.groups = self.corpus()
        self.expected = checks.reference_spo(rows)
        # untimed warm-up build of the same rows, before the ingest passes
        # so that none of them pays for the fresh JVM: the first build runs
        # ~2x slower (class loading, JIT, Python workers). A warm-up on
        # fewer pages costs as much (per-job overhead sets a build's time
        # here) and warms less: adaptive execution picks other plans at
        # another input size, and those are compiled fresh
        from blarify_spark.sources.pages import pages_from_rows

        self._pipeline(pages_from_rows(self.spark, rows), self.out("warmup"))
        self.cleanup("warmup")
        self.pages = self._timed_ingest(rows)

    def out(self, call_id: str) -> str:
        return os.path.join(self.work, "kg", call_id)

    def _pipeline(self, pages, out: str):  # noqa: ANN001, ANN202
        from blarify_spark.plans import materialize

        return materialize.run_pipeline(self.spark, pages, out, run_id="kg")

    def call(self, call_id: str):  # noqa: ANN202
        return self._pipeline(self.pages, self.out(call_id))

    def linked_rows(self, call_id: str) -> int:
        from blarify_spark.plans.materialize import read_manifest

        return read_manifest(self.out(call_id), "kg", "linked")["rows_out"]

    def output_paths(self, call_id: str) -> list[str]:
        return [self.out(call_id)]

    def cleanup(self, call_id: str) -> None:
        shutil.rmtree(self.out(call_id), ignore_errors=True)

    def check(self, tables) -> tuple[list[str], float, float]:  # noqa: ANN001
        from kgbench import checks

        problems = []
        p, r = checks.precision_recall(
            checks.table_spo(tables["triples"]), self.expected
        )
        if min(p, r) < checks.SPO_GATE:
            problems.append(f"triples vs reference: P={p:.4f} R={r:.4f}")
        dangling = checks.dangling_edge_endpoints(tables["nodes"], tables["edges"])
        if dangling:
            problems.append(f"{dangling} edge endpoints are not nodes")
        self.canon = checks.mapping_dict(tables["mapping"])
        if self.gate_inc_spellings:
            split = checks.split_inc_spellings(self.groups, self.canon)
            if split:
                problems.append(
                    f"{len(split)} Inc spellings not merged, e.g. {split[0]}"
                )
        return problems, p, r

    def layer_extras(self, tables) -> dict[str, float]:  # noqa: ANN001
        from kgbench import checks

        mp, mr = checks.merge_precision_recall(self.groups, self.canon)
        return {"canonicalize.merge_precision": mp, "canonicalize.merge_recall": mr}


class HeavyPages(FullBuild):
    """Web-weight pages over a bounded entity set: the most HTML per page
    goes through extraction and into linking."""

    def corpus(self) -> tuple[list[dict[str, Any]], list[list[str]]]:
        from kgbench import inputs

        return inputs.heavy_pages(HEAVY_PAGES, self.seed), inputs.heavy_groups(self.seed)


class EntityTail(FullBuild):
    """Light pages over a long tail of names: the most nodes per triple
    for canonicalization, light extraction."""

    gate_inc_spellings = True

    def corpus(self) -> tuple[list[dict[str, Any]], list[list[str]]]:
        from kgbench import inputs

        return inputs.entity_tail(TAIL_PAGES, TAIL_NAMES, self.seed)


class RecrawlDelta(Workload):
    kind = "incremental"

    def setup(self) -> None:
        from blarify_spark.plans import materialize
        from kgbench import checks, inputs

        base_rows = inputs.heavy_pages(RECRAWL_PAGES, self.seed)
        snap_rows, self.expected_changes = inputs.recrawl_snapshot(
            base_rows, self.seed
        )
        self.expected = checks.reference_spo(snap_rows)
        base = self._timed_ingest(base_rows)
        self.snapshot, _ = self._ingest(snap_rows, "snapshot")
        self.n_pages = len(snap_rows)
        self.html_bytes = sum(len(r["html"]) for r in snap_rows)
        self.kg = os.path.join(self.work, "kg")
        # the base build every call updates; it is also the warm-up build
        materialize.run_pipeline(self.spark, base, self.kg, run_id="base")
        ref = materialize.run_pipeline(
            self.spark, self.snapshot, os.path.join(self.work, "ref"), run_id="ref"
        )
        self.reference = {
            t: checks.sorted_rows(ref[t]) for t in ("nodes", "edges", "mapping")
        }

    def call(self, call_id: str):  # noqa: ANN202
        from blarify_spark.plans import materialize

        return materialize.run_incremental(
            self.spark, self.snapshot, self.kg, run_id=call_id, prev_run_id="base"
        )

    def linked_rows(self, call_id: str) -> int:
        from blarify_spark.plans.materialize import read_manifest

        return read_manifest(self.kg, call_id, "linked")["rows_out"]

    def output_paths(self, call_id: str) -> list[str]:
        return [
            os.path.join(self.kg, call_id),
            os.path.join(self.kg, "_manifest", call_id),
        ]

    def cleanup(self, call_id: str) -> None:
        for path in self.output_paths(call_id):
            shutil.rmtree(path, ignore_errors=True)

    def check(self, tables) -> tuple[list[str], float, float]:  # noqa: ANN001
        from kgbench import checks

        problems = []
        p, r = checks.precision_recall(
            checks.table_spo(tables["linked"]), self.expected
        )
        if min(p, r) < checks.SPO_GATE:
            problems.append(f"linked vs reference: P={p:.4f} R={r:.4f}")
        for t, want in self.reference.items():
            if checks.sorted_rows(tables[t]) != want:
                problems.append(f"incremental {t} differ from the full rebuild")
        wrong = checks.change_mismatches(tables["changes"], self.expected_changes)
        if wrong:
            problems.append(f"{wrong} urls with a change other than planted")
        dangling = checks.dangling_edge_endpoints(tables["nodes"], tables["edges"])
        if dangling:
            problems.append(f"{dangling} edge endpoints are not nodes")
        return problems, p, r

    def layer_extras(self, tables) -> dict[str, float]:  # noqa: ANN001
        from pyspark.sql import functions as F

        from blarify_spark.plans.canonicalize import build_entity_nodes, lsh_bands
        from blarify_spark.plans.recanon import affected_subgraph, changed_url_set

        read = self.spark.read.parquet
        old_linked = read(os.path.join(self.kg, "base", "linked"))
        new_nodes = build_entity_nodes(tables["linked"])
        affected = affected_subgraph(
            old_linked,
            tables["linked"],
            changed_url_set(tables["changes"]),
            read(os.path.join(self.kg, "base", "mapping")),
            new_nodes,
            lsh_bands(new_nodes),
        ).count()
        changed = tables["changes"].filter(F.col("change") != "UNCHANGED").count()
        return {
            "diff.changed_pages": changed,
            "recanon.affected_nodes": affected,
            "recanon.affected_frac": affected / max(1, new_nodes.count()),
        }


WORKLOADS = {
    "heavy_pages": HeavyPages,
    "entity_tail": EntityTail,
    "recrawl_delta": RecrawlDelta,
}

# units of the layer counts computed on a traced call's committed tables
EXTRA_UNITS = {
    "canonicalize.candidate_pairs": "count",
    "canonicalize.verified_pairs": "count",
    "canonicalize.pair_yield": "ratio",
    "canonicalize.merge_precision": "ratio",
    "canonicalize.merge_recall": "ratio",
    "linking.link_rate": "ratio",
    "materialize.bytes_written": "bytes",
    "diff.changed_pages": "count",
    "recanon.affected_nodes": "count",
    "recanon.affected_frac": "ratio",
}


def _canon_pairs(linked) -> dict[str, float]:  # noqa: ANN001
    """LSH candidate pairs (bucket collisions after the size cap) and the
    pairs that pass Jaccard verification, over a committed linked table."""
    from pyspark.sql import functions as F

    from blarify_spark.plans.canonicalize import (
        MAX_BUCKET,
        band_bucket_sizes,
        build_entity_nodes,
        candidate_pairs,
        cap_bands,
        lsh_bands_raw,
    )

    nodes = build_entity_nodes(linked).cache()
    bands = lsh_bands_raw(nodes)
    capped = cap_bands(
        bands, band_bucket_sizes(bands).filter(F.col("_bn") <= MAX_BUCKET)
    ).select("band_key", "node_id")
    candidates = (
        capped.withColumnRenamed("node_id", "src")
        .join(capped.withColumnRenamed("node_id", "dst"), "band_key")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .count()
    )
    verified = candidate_pairs(nodes).count()
    nodes.unpersist()
    return {
        "canonicalize.candidate_pairs": candidates,
        "canonicalize.verified_pairs": verified,
        "canonicalize.pair_yield": verified / candidates if candidates else 0.0,
    }


def _link_rate(linked) -> float:  # noqa: ANN001
    """Share of triple endpoints resolved to a dictionary entity rather
    than a NIL id (linking gives unknown surfaces md5("nil:" + surface))."""
    from pyspark.sql import functions as F

    def linked_end(surface: str, ident: str):  # noqa: ANN202
        nil = F.md5(F.concat(F.lit("nil:"), F.lower(F.col(surface))))
        return (F.col(ident) != nil).cast("long")

    row = linked.select(
        F.sum(linked_end("subj", "subj_id") + linked_end("obj", "obj_id")).alias("hit"),
        (2 * F.count(F.lit(1))).alias("all"),
    ).first()
    return row["hit"] / row["all"] if row["all"] else 0.0


class Bench:
    """One benchmark run: session, set-up, measured loop, optional
    traced call, metrics."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.call_s: list[float] = []
        self.linked_rows = 0
        self.bytes_written: list[int] = []
        self.spo: list[tuple[float, float]] = []

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": _JVM_OPTS.format(
                tmp=os.path.join(self.work, "tmp")
            ),
        }
        if self.args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.events}"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def _one_call(self, call_id: str, recorder=None) -> tuple[float, dict | None]:  # noqa: ANN001
        """Time one call and check its output; tables is None if it raised."""
        self.attempted += 1
        scope = recorder.call(call_id) if recorder else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with scope:
                tables = self.workload.call(call_id)
            wall = time.perf_counter() - t0
            problems, p, r = self.workload.check(tables)
        except Exception as exc:  # a failed call is counted, not fatal
            self.failed += 1
            _log(f"call {call_id} raised {exc!r}")
            self.workload.cleanup(call_id)
            return time.perf_counter() - t0, None
        if problems:
            self.failed += 1
            _log(f"call {call_id} failed: {problems}")
        self.spo.append((p, r))
        return wall, tables

    def _finish_call(self, call_id: str) -> None:
        self.bytes_written.append(_dir_bytes(*self.workload.output_paths(call_id)))
        self.workload.cleanup(call_id)

    def run(self) -> dict[str, Any]:
        from blarify_spark.session import ensure_workers_can_import, get_spark
        from kgbench import host

        # half the CPUs: the JIT compiler, GC, the driver's query planning
        # and the Python workers get the other half, so a call measures
        # the pipeline rather than the scheduler of a small shared host
        cores = max(1, len(os.sched_getaffinity(0)) // 2)
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app_name="kgbench", extra_conf=self._conf())
        ensure_workers_can_import(spark)
        self.session_start_s = time.perf_counter() - t0
        _log(f"session started in {self.session_start_s:.2f} s on local[{cores}]")
        jvm = spark.sparkContext._gateway.proc
        sampler = host.MemorySampler(jvm.pid)
        try:
            workload = WORKLOADS[self.args.workload]
            self.workload = workload(spark, self.args.seed, self.work)
            t0 = time.perf_counter()
            self.workload.setup()
            _log(
                f"set-up and warm-up took {time.perf_counter() - t0:.2f} s; "
                f"ingest passes {[round(t, 2) for t in self.workload.setup_times]} s"
            )
            self._measure(sampler)
            layers = self._traced(spark) if self.args.trace else None
        finally:
            sampler.close()
            _shutdown(spark, jvm)
        if self.args.trace:
            return self._layer_metrics(layers)
        return self._end_to_end()

    def _measure(self, sampler) -> None:  # noqa: ANN001
        """Closed loop: calls back to back while the next one, at the
        median call time so far, fits in --seconds of call time."""
        from kgbench import host

        cpu0 = host.cpu_jiffies()
        sampler.active.set()
        i = 0
        while not self.call_s or (
            sum(self.call_s) + statistics.median(self.call_s) <= self.args.seconds
        ):
            call_id = f"c{i}"
            wall, tables = self._one_call(call_id)
            _log(f"call {call_id} took {wall:.2f} s")
            if tables is not None:
                self.call_s.append(wall)
                self.linked_rows += self.workload.linked_rows(call_id)
                self._finish_call(call_id)
            elif i >= 2 and not self.call_s:
                raise RuntimeError("every call failed")
            i += 1
        sampler.active.clear()
        self.steal_pct = host.steal_pct(cpu0, host.cpu_jiffies())
        self.peak_rss = sampler.peak

    def _traced(self, spark) -> dict[str, float]:  # noqa: ANN001
        """One more call with stage spans on; layer counts computed on its
        committed tables afterwards (outside the span)."""
        from kgbench.spans import SpanRecorder

        self.recorder = SpanRecorder(spark.sparkContext)
        wall, tables = self._one_call("traced", self.recorder)
        if tables is None:
            raise RuntimeError("the traced call raised")
        self.traced_wall = wall
        extras = self.workload.layer_extras(tables)
        extras.update(_canon_pairs(tables["linked"]))
        extras["linking.link_rate"] = _link_rate(tables["linked"])
        self._finish_call("traced")
        extras["materialize.bytes_written"] = self.bytes_written.pop()
        return extras

    def _end_to_end(self) -> dict[str, Any]:
        wl = self.workload
        total = sum(self.call_s)
        return {
            "call_s.p50": (statistics.median(self.call_s), "s"),
            "pages_per_s": (wl.n_pages * len(self.call_s) / total, "pages/s"),
            "triples_per_s": (self.linked_rows / total, "triples/s"),
            "setup_s": (wl.setup_s, "s"),
            "peak_rss_mb": (self.peak_rss / 2**20, "MB"),
            "spo_precision": (min(p for p, _ in self.spo), "ratio"),
            "spo_recall": (min(r for _, r in self.spo), "ratio"),
            "bytes_written_per_html_byte": (
                statistics.median(self.bytes_written) / wl.html_bytes,
                "ratio",
            ),
        }

    def _layer_metrics(self, extras: dict[str, float]) -> dict[str, Any]:
        from kgbench.spans import EventLog

        log = EventLog(self.events)
        rec, cid = self.recorder, "traced"
        stages = {s.name for s in rec.spans if s.parent}
        call_span = next(s for s in rec.spans if s.name == "call")
        extract = log.stats(cid, "extract")
        canon = log.stats(cid, "nodes", "edges", "mapping")
        everything = log.stats(cid)

        def secs(*names: str) -> float:
            return rec.stage_seconds(cid, *names)

        m = {
            "extract.stage_s": (secs("extract"), "s"),
            "extract.python_bytes": (everything.python_bytes, "bytes"),
            "extract.task_skew": (extract.task_skew(), "ratio"),
            "linking.stage_s": (secs("linked"), "s"),
            "linking.shuffle_bytes": (log.stats(cid, "linked").shuffle_write_bytes, "bytes"),
            "canonicalize.stage_s": (secs("nodes", "edges", "mapping"), "s"),
            "canonicalize.jobs": (canon.jobs, "count"),
            "canonicalize.shuffle_bytes": (canon.shuffle_write_bytes, "bytes"),
            "materialize.jobs": (log.stats(cid, *stages).jobs, "count"),
            "materialize.edges_s": (secs("edges"), "s"),
            "materialize.digests_s": (secs("digests"), "s"),
            "materialize.outside_stages_s": (call_span.seconds - secs(*stages), "s"),
            "spark.jobs": (everything.jobs, "count"),
            "spark.tasks": (everything.tasks, "count"),
            "spark.shuffle_bytes": (everything.shuffle_write_bytes, "bytes"),
            "spark.spill_bytes": (everything.spill_bytes, "bytes"),
            "spark.gc_s": (everything.gc_ms / 1e3, "s"),
            "spark.executor_cpu_s": (everything.cpu_ns / 1e9, "s"),
            "sources.scan_rows": (self.workload.scan_rows, "count"),
            "session.start_s": (self.session_start_s, "s"),
            "host.steal_pct": (self.steal_pct, "%"),
            "trace.overhead_s": (
                self.traced_wall - statistics.median(self.call_s), "s"
            ),
        }
        if self.workload.kind == "incremental":
            m["recrawl.linked_s"] = (secs("linked"), "s")
            m["recrawl.nodes_s"] = (secs("nodes"), "s")
            m["recrawl.provenance_s"] = (
                secs("prov_nodes", "prov_edges", "crawl_chain"), "s"
            )
        m.update((k, (v, EXTRA_UNITS[k])) for k, v in extras.items())
        return dict(sorted(m.items()))


def _shutdown(spark, jvm) -> None:  # noqa: ANN001
    """Stop Spark, then the JVM and the Python workers under it, and wait
    until each has ended."""
    from kgbench import host

    t0 = time.perf_counter()
    tree = host.process_tree(jvm.pid)
    try:
        spark.stop()
    finally:
        if jvm.stdin:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in tree[1:]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        _log(f"Spark stopped in {time.perf_counter() - t0:.2f} s")


# JVM temp files go into the run's work dir; -XX:-UsePerfData stops the
# JVM from writing its hsperfdata file under /tmp
_JVM_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _isolate(work: str) -> None:
    """Point every scratch location Spark and Python use into `work`."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_OPTS.format(tmp=os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "blarify_spark", "__init__.py")):
        print(
            f"kgbench: no blarify_spark package under {ROOT}; run from the "
            "root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[0] = ROOT  # import kgbench.* and blarify_spark from the checkout
    work = os.path.join(ROOT, "kgbench", "_work", str(os.getpid()))
    _isolate(work)
    try:
        bench = Bench(args, work)
        metrics = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
