"""One benchmark run: set-up, the timed closed loop, the answer checks
and, in traced runs, the per-layer figures."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

import checks
import workload

from xml_to_es_spark import IndexConfig, pyref
from xml_to_es_spark.functions.extract import extract_fields
from xml_to_es_spark.operators.es_query import EsRequest, es_msearch, es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.postings import decode_segment
from xml_to_es_spark.operators.query_engine import QueryEngine
from xml_to_es_spark.operators.wand import wand_topk
from xml_to_es_spark.session import get_spark

pc = time.perf_counter

# The index layout depends on the core count (files and bytes per file
# follow the shuffle partitions), so the session is pinned, not sized
# to the host. Two cores leave the rest of a 4-core host to the client,
# the JVM's own threads and the Python workers.
CORES = 2
# OR queries of the timed region the traced run replays through the
# decode and WAND kernels directly
KERNEL_QUERIES = 100


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of a directory tree."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def cpu_steal_s() -> float:
    """Host CPU steal so far, summed over CPUs, in seconds (0 where the
    kernel does not report it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hits(rows) -> dict[int, list[tuple[int, float]]]:
    """Collected hit rows → {query_id: [(doc_id, score)] in rank order}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    return out


class Run:
    """One run of one workload; :meth:`run` returns (result, info)."""

    def __init__(self, args, bench: dict, work: Path, t_start: float):
        self.args = args
        self.bench = bench  # BENCHMARK.json: metric names and units
        self.work = work
        self.t_start = t_start
        self.layers: dict[str, float] = {}
        self.problems: list[str] = []
        self.failed = 0
        self.trace = None  # SparkTrace in traced runs
        self.windows: list[tuple] = []  # (mark before, mark after) per request
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.parse_ms: list[float] = []
        self.warmup_compiles: list[tuple[str, int]] = []
        self.extract_pages = 0
        self.extract_s = 0.0

    # -- set-up ------------------------------------------------------------

    def extract(self, pages):
        t = pc()
        docs = (
            extract_fields(self.spark.createDataFrame(pages))
            .selectExpr("cast(id as long) as doc_id", "coalesce(text, '') as text")
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        self.extract_s += pc() - t
        self.extract_pages += len(pages)
        return docs

    def setup(self) -> None:
        local = self.work / "spark-local"
        t = pc()
        self.spark = get_spark(
            app="perfbench",
            cores=CORES,
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(local),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            },
        )
        self.layers["session.start_s"] = pc() - t
        if self.args.trace:
            from spark_trace import SparkTrace

            self.trace = SparkTrace(self.spark)
        self.pages = workload.pages(self.args.seed)
        docs = self.extract(self.pages)
        self.texts = dict(zip(docs.doc_id.astype(int).tolist(), docs.text.tolist()))
        self.input_bytes = sum(len(s.encode("utf-8")) for s in self.texts.values())
        self.index = str(self.work / "index")
        self.indexer = IndexBuilder(self.spark, IndexConfig())
        m0 = self.trace and self.trace.mark()
        t = pc()
        built = self.indexer.build(self.spark.createDataFrame(docs), self.index)
        self.layers["index_build.build_s"] = pc() - t
        self.build_window = (m0, self.trace and self.trace.mark())
        self.layers["index_build.tokens_s"] = built["phases"]["tokens_s"]
        self.layers["index_build.docs_groups_s"] = built["phases"]["docs_groups_s"]
        self.index_bytes, self.layers["index_build.files"] = dir_bytes(self.index)
        t = pc()
        self.engine = QueryEngine(self.spark, self.index)
        self.layers["query_engine.open_ms"] = (pc() - t) * 1e3

    # -- requests ------------------------------------------------------------

    def request(self, plan, parse_bodies):
        """One timed request: ``plan()`` returns the DataFrame, collect
        runs it. Returns (rows, latency_s), or None if it failed."""
        if self.trace:
            t = pc()
            for b in parse_bodies:
                EsRequest(self.engine, dict(b))
            self.parse_ms.append((pc() - t) * 1e3)
            mark = self.trace.mark()
        t0 = pc()
        try:
            df = plan()
            t1 = pc()
            rows = df.collect()
        except Exception as ex:  # a failed request is counted, not fatal
            print(f"perfbench: request failed: {ex!r}"[:2000], file=sys.stderr)
            self.failed += 1
            return None
        t2 = pc()
        if self.trace:
            self.windows.append((mark, self.trace.mark()))
            self.plan_ms.append((t1 - t0) * 1e3)
            self.exec_ms.append((t2 - t1) * 1e3)
        return rows, t2 - t0

    def loop(self, rounds):
        """Closed loop over whole rounds until ``--seconds`` have passed.
        ``rounds`` yields lists of (plan, parse_bodies, spec)."""
        done = []  # (spec, rows, latency)
        self.attempted = 0
        self.steal0 = cpu_steal_s()
        t_begin = pc()
        for rnd in rounds:
            for plan, parse_bodies, spec in rnd:
                self.attempted += 1
                got = self.request(plan, parse_bodies)
                if got is not None:
                    done.append((spec, *got))
            if pc() - t_begin >= self.args.seconds:
                break
        self.elapsed = pc() - t_begin
        self.steal = cpu_steal_s() - self.steal0
        return done

    def search_mixed(self):
        eng = self.engine
        rounds = workload.search_rounds(
            self.args.seed, workload.SEARCH_WARMUP + int(self.args.seconds * 4) + 1)
        warm, timed = rounds[:workload.SEARCH_WARMUP], rounds[workload.SEARCH_WARMUP:]
        for body, spec in (b for rnd in warm for b in rnd):
            before = self.trace and self.trace.mark()
            es_search(eng, body).collect()
            if self.trace:  # compiles of each type's first request
                self.warmup_compiles.append((spec["kind"], self.trace.mark()[2] - before[2]))
        requests = (
            [((lambda b=body: es_search(eng, b)), [body], spec) for body, spec in rnd]
            for rnd in timed
        )
        self.setup_s = pc() - self.t_start
        done = self.loop(requests)
        ref = pyref.PyRefIndex(self.texts)
        for spec, rows, _lat in done:
            hits = _hits(rows).get(0, [])
            kind = spec["kind"]
            if kind == "match":
                exp, strict = ref.score(spec["text"]), True
            elif kind == "and":
                exp, strict = checks.scores_and(ref, spec["text"]), False
            else:
                exp, strict = checks.scores_bool(
                    ref, spec["must"], spec["should"], spec["must_not"]
                ), False
            for p in checks.check_ranked(hits, exp, workload.K, strict):
                self.problems.append(f"{kind} {spec}: {p}")
        self.query_texts = [s["text"] for s, _r, _l in done if s["kind"] == "match"]
        self.ref = ref
        return done

    def msearch_bulk(self):
        eng = self.engine
        batches = workload.msearch_batches(
            self.args.seed, workload.MSEARCH_WARMUP + int(self.args.seconds * 4) + 1)
        warm, timed = batches[:workload.MSEARCH_WARMUP], batches[workload.MSEARCH_WARMUP:]
        for texts in warm:
            es_msearch(eng, workload.msearch_bodies(texts)).collect()
        rounds = (
            [((lambda b=bodies: es_msearch(eng, b)), bodies, {"kind": "msearch", "texts": texts})]
            for texts in timed
            for bodies in [workload.msearch_bodies(texts)]
        )
        self.setup_s = pc() - self.t_start
        done = self.loop(rounds)
        ref = pyref.PyRefIndex(self.texts)
        for spec, rows, _lat in done:
            hits = _hits(rows)
            for qid, text in enumerate(spec["texts"]):
                for p in checks.check_ranked(
                    hits.get(qid, []), ref.score(text), workload.K, strict_ranks=True
                ):
                    self.problems.append(f"msearch {text!r}: {p}")
        self.query_texts = [t for s, _r, _l in done for t in s["texts"]]
        self.ref = ref
        return done

    # -- traced extras ---------------------------------------------------------

    def kernels(self) -> None:
        """Decode and WAND kernels on the run's query-term segments,
        called directly on postings read with pyarrow."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        texts = self.query_texts[:KERNEL_QUERIES]
        terms = sorted({t for q in texts for t in pyref.tokenize(q)})
        seg_rows = (
            ds.dataset(f"{self.index}/postings", format="parquet", partitioning="hive")
            .to_table(filter=ds.field("term").isin(terms))
            .to_pylist()
        )
        stats = pq.read_table(f"{self.index}/stats").to_pylist()[0]
        n_bytes = sum(len(r["docs_bin"]) + len(r["tfs_bin"]) + len(r["dls_bin"]) for r in seg_rows)
        passes, t = 0, pc()
        while passes < 3 or pc() - t < 0.3:
            for r in seg_rows:
                decode_segment(r)
            passes += 1
        self.layers["postings.decode_mb_per_s"] = n_bytes * passes / 1e6 / (pc() - t)
        by_term: dict[str, list] = {}
        for r in seg_rows:
            by_term.setdefault(r["term"], []).append(r)
        n, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
        cfg = self.indexer.cfg
        wand_s = []
        for q in texts:
            entries = [
                {"term": term, "segments": by_term[term],
                 "idf": pyref.idf(n, sum(s["n_docs"] for s in by_term[term]))}
                for term in sorted(set(pyref.tokenize(q))) if term in by_term
            ]
            t = pc()
            top = wand_topk(entries, workload.K, cfg.k1, cfg.b, avgdl, int(stats["block_size"]))
            wand_s.append(pc() - t)
            hits = [(int(d), float(s)) for d, s in top]
            for p in checks.check_ranked(hits, self.ref.score(q), workload.K, strict_ranks=True):
                self.problems.append(f"wand_topk {q!r}: {p}")
        self.layers["wand.kernel_ms_per_query"] = statistics.fmean(wand_s) * 1e3
        sum_df = sum(
            pq.read_table(f"{self.index}/terms", columns=["df"]).column("df").to_pylist()
        )
        self.layers["postings.bytes_per_posting"] = dir_bytes(f"{self.index}/postings")[0] / sum_df

    def recrawl(self) -> None:
        """One re-crawl round over the base index (upsert changed,
        unchanged and new pages; delete a few live ids; reopen; a
        verifying search), then compaction, each answer checked."""
        spark, b, idx = self.spark, self.indexer, self.index
        marker = f"pbmark{abs(self.args.seed)}x"
        pages, planted = workload.recrawl_batch(self.pages, self.args.seed, marker)
        docs = self.extract(pages)
        before, _ = dir_bytes(idx)
        m0 = self.trace.mark()
        t = pc()
        up = b.upsert(spark.createDataFrame(docs), idx)
        self.layers["index_build.upsert_ms"] = (pc() - t) * 1e3
        self.upsert_window = (m0, self.trace.mark())
        n_up = len(planted["changed"]) + len(planted["new"])
        self.problems += [
            f"upsert: {p}" for p in checks.check_counts(
                up, {"n_new": len(planted["new"]), "n_changed": len(planted["changed"])})
        ]
        self.layers["index_build.delta_bytes_per_doc"] = (dir_bytes(idx)[0] - before) / n_up
        t = pc()
        dl = b.delete_docs(planted["deleted"], idx)
        self.layers["index_build.delete_ms"] = (pc() - t) * 1e3
        self.problems += [
            f"delete_docs: {p}" for p in checks.check_counts(
                dl, {"n_deleted": len(planted["deleted"]), "n_not_found": 0})
        ]
        t = pc()
        eng = QueryEngine(spark, idx)
        self.layers["query_engine.reopen_ms"] = (pc() - t) * 1e3
        # room for more hits than planted, so an extra one shows
        rows = es_search(eng, {"query": {"match": {"text": marker}}, "size": 2 * n_up}).collect()
        self.problems += [
            f"marker search: {p}" for p in checks.check_doc_set(
                [d for d, _s in _hits(rows).get(0, [])],
                set(planted["changed"]) | set(planted["new"]))
        ]
        texts = dict(self.texts)
        texts.update(zip(docs.doc_id.astype(int).tolist(), docs.text.tolist()))
        for d in planted["deleted"]:
            del texts[d]
        ref = pyref.PyRefIndex(texts)
        probes = self.query_texts[:4] + [f"{marker} {self.query_texts[0]}"]
        self._check_probes(eng, ref, probes, "after upsert")
        compacted = idx + "_compacted"
        t = pc()
        b.compact(idx, compacted)
        self.layers["index_build.compact_s"] = pc() - t
        self._check_probes(QueryEngine(spark, compacted), ref, probes, "after compact")

    def _check_probes(self, eng, ref, texts, when):
        for q in texts:
            rows = es_search(eng, {"query": {"match": {"text": q}}, "size": workload.K}).collect()
            hits = _hits(rows).get(0, [])
            for p in checks.check_ranked(hits, ref.score(q), workload.K, strict_ranks=True):
                self.problems.append(f"{when} {q!r}: {p}")

    def traced_layers(self) -> None:
        from spark_trace import per_request

        self.kernels()
        self.recrawl()
        tr = self.trace
        tr.drain()
        per = per_request([tr.window(a, b) for a, b in self.windows])
        names = {
            "jobs": "spark.jobs_per_request",
            "stages": "spark.stages_per_request",
            "tasks": "spark.tasks_per_request",
            "codegen_compiles": "spark.codegen_compiles_per_request",
            "executor_run_ms": "spark.executor_run_ms_per_request",
            "executor_cpu_ms": "spark.executor_cpu_ms_per_request",
            "shuffle_bytes": "spark.shuffle_bytes_per_request",
            "python_run_ms": "python.run_ms_per_request",
            "python_sent_b": "python.bytes_sent_per_request",
            "python_returned_b": "python.bytes_returned_per_request",
        }
        for key, name in names.items():
            self.layers[name] = per[key]
        self.layers["spark.build_task_skew"] = tr.task_skew([self.build_window, self.upsert_window])
        self.layers["es_query.parse_ms"] = statistics.median(self.parse_ms)
        self.layers["es_query.plan_ms"] = statistics.median(self.plan_ms)
        self.layers["query_engine.execute_ms"] = statistics.median(self.exec_ms)
        self.layers["extract.pages_per_s"] = self.extract_pages / self.extract_s

    # -- the run -------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        self.setup()
        try:
            done = getattr(self, self.args.workload)()
            if not done:  # no answer to check and no latency to report
                raise RuntimeError(f"no request completed ({self.failed} failed)")
            if self.args.trace:
                self.traced_layers()
        finally:
            stop_session(self.spark)
        lat_ms = [lat * 1e3 for _s, _r, lat in done]
        e2e = {
            "setup_s": self.setup_s,
            "request_p50_ms": statistics.median(lat_ms),
            "requests_per_s": len(done) / self.elapsed,
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "requests": len(done),
            "timed_s": self.elapsed,
            "host_cpu_steal_s": self.steal,
            "end_to_end": e2e,
            "problems": self.problems[:20],
            "layers": self.layers,
            "extract_s": self.extract_s,
            "warmup_codegen_compiles": self.warmup_compiles,
            "latencies_ms": [[s.get("kind"), round(lat * 1e3, 1)] for s, _r, lat in done],
        }
        values, names = (self.layers, "per_layer") if self.args.trace else (e2e, "end_to_end")
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in self.bench[names]
        }
        result = {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return result, info
