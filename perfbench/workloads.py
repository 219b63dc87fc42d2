"""The workloads, driven through the engine's public functions.

``Bench.run()`` sets up (session, inputs, warm-up), measures one phase of
fixed work or fixed offered load, checks correctness outside the phase and
returns the result object ``run.py`` prints. See ``NOTES.md`` for what each
workload stresses and what each metric means.
"""

from __future__ import annotations

import time

T_LAUNCH = time.time()  # setup_s counts from here: imports, session, inputs, warm-up

import concurrent.futures  # noqa: E402
import functools  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

import datagen  # noqa: E402
from harness import (  # noqa: E402
    ProcTree,
    TooFewSamples,
    Tracer,
    Void,
    batch_files,
    cpu_ticks,
    percentile,
    redis_oracle,
    redis_state_diff,
    steal_share,
)

from bootic_stats_aggregates_spark import registry  # noqa: E402
from bootic_stats_aggregates_spark.io import TABLES, normalize_ts  # noqa: E402
from bootic_stats_aggregates_spark.session import get_spark  # noqa: E402
from bootic_stats_aggregates_spark.sinks import redis_sink  # noqa: E402
from bootic_stats_aggregates_spark.sinks.redis_sink import RedisCounterSink  # noqa: E402
from bootic_stats_aggregates_spark.sinks.resp import RespClient  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# -- fixed settings (recorded in every run's output) ----------------------

#: stream_redis: open loop at files_per_s x events_per_file events/s for
#: --seconds. The first (cold) micro-batch is the warm-up; the offered load
#: starts after it has committed, 0.5 s before a trigger. A warm batch takes
#: well under the trigger interval, so the engine idles between triggers and
#: cpu_s counts work rather than elapsed time. Spark fires processing-time
#: triggers at multiples of the interval since the epoch, so every run's
#: schedule falls into batches the same way: 0.5 s of files, then one
#: trigger interval of files per batch.
STREAM = {"trigger_s": 8, "files_per_s": 10, "events_per_file": 50}
#: The validity checks below mark a run as spoiled: the reason is printed
#: on stderr and listed under ``spoiled`` in the settings line, and the
#: run still reports its figures and exits 0. A run is not measured again,
#: so that every run's length stays bounded.
#: generator lateness (file visible minus file due) above which the
#: offered load was not the stated one
LATE_LIMIT_S = 0.25
#: share of the machine's CPU that the hypervisor gave to other guests
#: during the measured phase above which the phase measured the other
#: guests more than the engine
STEAL_LIMIT = 0.1
#: the engine is behind at the end of the window (its backlog grows) when
#: the window's last full batch holds more than this many trigger
#: intervals of files
BEHIND_LIMIT = 1.2
#: batch_queries: (layer, query id, tables it reads); DATA sizes the inputs.
QUERIES = [
    ("operators", "agg_sum_avg_minmax", ("lineitem",)),
    ("operators", "q3_topk_join", ("customer", "orders", "lineitem")),
    ("operators", "agg_count_by_bucket", ("events",)),
    ("operators", "rank_topk_per_group", ("events",)),
    ("llm.dedup", "llm_ngram_jaccard", ("documents",)),
    ("llm.similarity", "llm_semdedup_arrow", ("embeddings",)),
    ("llm.text", "llm_bm25_search", ("documents",)),
    ("llm.multimodal", "llm_multimodal_decode", ("documents",)),
    ("acid", "tx_apply_changes_keyed", ("events",)),
]
DATA = {"sf": 0.1, "docs_sf": 0.01, "content_seed": 42}
#: queries whose first execution stages a MiniLog table
STAGING = {"tx_apply_changes_keyed"}
#: queries checked against a recorded result digest instead of the DuckDB
#: oracle (see expected_digests.json for how each digest was verified)
DIGEST_CHECKED = {"llm_ngram_jaccard"}

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "cpu_s": "s", "freshness_p50_s": "s",
              "freshness_p90_s": "s", "events_per_s": "1/s", "pass_s": "s"}
STREAM_PHASES = {  # per-layer name -> StreamingQueryProgress.durationMs key
    "trigger": "triggerExecution", "add_batch": "addBatch", "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets", "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
}
#: traced layers reported as self time over the measured phase
TRACE_LAYERS = ("redis_sink.call", "redis_sink.commit", "redis_sink.staging_read",
                "registry.build", "query.execute")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit; each traced run reports all."""
    u = {"session.get_spark_s": "s", "streaming.batches": "count"}
    u.update({f"streaming.{k}_ms_p50": "ms" for k in STREAM_PHASES})
    u.update({
        "streaming.events_per_batch_p50": "count", "streaming.jobs_per_batch": "count",
        "streaming.source_rows_per_event": "ratio", "streaming.backlog_files_max": "count",
        "redis_sink.call_s_p50": "s", "redis_sink.stage_s_p50": "s",
        "redis_sink.commit_s_p50": "s", "redis_sink.cmds_per_batch_p50": "count",
        "redis_sink.cmds_per_event": "ratio", "resp.connections_per_batch": "count",
        "resp.commands_per_event": "ratio", "resp.bytes_in_per_event": "B",
        "resp.server_busy_s": "s", "resp.server_cpu_s": "s",
        "generator.late_p99_s": "s", "generator.late_max_s": "s",
    })
    for layer, qid, _ in QUERIES:
        u.update({f"{layer}.{qid}.build_s": "s", f"{layer}.{qid}.exec_s": "s",
                  f"{layer}.{qid}.shuffle_write_bytes": "B", f"{layer}.{qid}.tasks": "count"})
    u.update({"spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
              "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B"})
    u.update({f"trace.self.{layer}_s": "s" for layer in TRACE_LAYERS})
    u.update({"trace.spans": "count", "trace.hooks_s": "s", "trace.pass_s": "s",
              "trace.freshness_p90_s": "s", "trace.cpu_s": "s"})
    return u


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive form of a result, for exact comparison."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("Int64")
        elif s.dtype == object:
            pdf[c] = s.map(lambda v: None if v is None else str(v))
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


def result_digest(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(_normalize(pdf).to_csv(index=False).encode()).hexdigest()


class _Progress(StreamingQueryListener):
    """Keeps each micro-batch's progress (phase durations, input rows)."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.items.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Bench:
    def __init__(self, workload, seed, seconds, trace, work, cpus) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.cpus = work, cpus
        self.tracer = Tracer(trace)
        self.layer: dict[str, float] = {}
        self.procs: dict[str, subprocess.Popen] = {}
        self.spark = None
        self.query = None
        self.tree: ProcTree | None = None  # the measured phase's process tree
        self.calls: list[tuple] = []  # (namespace, batch_id, start, end) per sink call
        self._called = threading.Condition()  # notified after each sink call
        self.spoiled: list[str] = []  # the validity checks the run failed
        self.hooks: dict[str, list] = {"commit": [], "read": [], "jobs": []}
        self._stage_seen = -1
        self.t_phase = 0.0

    # -- lifecycle ------------------------------------------------------

    def run(self) -> dict:
        fn = {"stream_redis": self._stream_redis,
              "batch_queries": self._batch_queries}[self.workload]
        with self.tracer.span(self.workload, "workload"):
            e2e, attempted, failed, settings = fn()
        correct = failed == 0
        print(json.dumps({"workload": self.workload, "seed": self.seed,
                          "settings": settings, "attempted": attempted, "failed": failed}))
        if self.tracer.enabled:
            metrics = self._per_layer(e2e)
            self.tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"trace-{self.workload}-{self.seed}-{os.getpid()}.json"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def close(self) -> None:
        if self.tree is not None:
            self.tree.stop_sampling()  # a no-op unless a phase was cut short
        if self.query is not None:
            try:
                self.query.stop()
            except Exception:
                pass
        if self.spark is not None:
            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                self.procs["jvm"] = gateway.proc
        for p in self.procs.values():
            if p.poll() is None and p.stdin is not None and not p.stdin.closed:
                p.terminate()
        for p in self.procs.values():
            try:
                p.wait(20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        # the JVM's Python workers end with it; wait for the last of them
        deadline = time.time() + 10
        while len(ProcTree(os.getpid()).pids()) > 1 and time.time() < deadline:
            time.sleep(0.05)

    def _settings(self, **extra) -> dict:
        return {"master": f"local[{self.cpus}]", "nproc": self.cpus,
                "shuffle_partitions": int(os.environ["SPARK_GRAFT_SHUFFLE"]),
                "aqe": os.environ["SPARK_GRAFT_AQE"] == "true",
                "jvm_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"], **extra}

    def _session(self) -> None:
        t = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.layer["session.get_spark_s"] = time.time() - t
        self._empty = self.spark.sparkContext._gateway.new_array(
            self.spark.sparkContext._gateway.jvm.double, 0)

    def _spawn(self, name: str, *args: str) -> subprocess.Popen:
        p = subprocess.Popen([sys.executable, *args], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True, bufsize=1)
        self.procs[name] = p
        return p

    def _ask(self, name: str, line: str) -> str:
        p = self.procs[name]
        p.stdin.write(line + "\n")
        p.stdin.flush()
        return p.stdout.readline().strip()

    # -- Spark status store (traced runs) ---------------------------------

    def _stages(self) -> dict:
        """Totals over the stages completed since the previous call."""
        tot = dict.fromkeys(("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                             "spill_bytes"), 0)
        if not self.tracer.enabled:
            return tot
        t = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().stageList(None, False, False, self._empty, None)
        seen = self._stage_seen
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= seen:
                continue
            self._stage_seen = max(self._stage_seen, sid)
            tot["tasks"] += s.numCompleteTasks()
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.tracer.overhead_s += time.perf_counter() - t
        return tot

    def _spark_layer(self, tot: dict) -> None:
        self.layer.update({
            "spark.executor_run_s": tot["run_s"], "spark.executor_cpu_s": tot["cpu_s"],
            "spark.gc_s": tot["gc_s"], "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"]})

    def _jobs(self) -> int:
        t = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        n = jsc.statusStore().jobsList(None).size()
        self.tracer.overhead_s += time.perf_counter() - t
        return n

    # -- streams: shared pieces -------------------------------------------

    def _start_server(self) -> str:
        p = self._spawn("server", os.path.join(HERE, "server.py"))
        port = int(p.stdout.readline().split()[1])
        return f"redis://127.0.0.1:{port}/0"

    def _sink_fn(self, url: str, namespace: str):
        # a partial of a package classmethod pickles by reference, so every
        # executor partition opens its own RespClient
        sink = RedisCounterSink(functools.partial(RespClient.from_url, url),
                                namespace=namespace, distributed=True)
        tracer = self.tracer

        def fb(df, batch_id):
            jobs0 = self._jobs() if tracer.enabled else 0
            t0 = time.time()
            with tracer.span(f"micro-batch {namespace}:{batch_id}", "op"):
                with tracer.span("RedisCounterSink call", "redis_sink.call"):
                    sink(df, batch_id)
            t1 = time.time()
            with self._called:
                self.calls.append((namespace, batch_id, t0, t1))
                self._called.notify_all()
            if tracer.enabled:
                self.hooks["jobs"].append((namespace, batch_id, self._jobs() - jobs0))

        return fb

    def _hook_sink_layers(self) -> None:
        """Traced runs: time ``commit_staged`` and the staging read."""
        if not self.tracer.enabled:
            return
        tracer, hooks = self.tracer, self.hooks
        commit = redis_sink.commit_staged
        hgetall = RespClient.hgetall

        def timed_commit(client, staged, marker, stage_key):
            with tracer.span("commit_staged", "redis_sink.commit"):
                t = time.time()
                n = commit(client, staged, marker, stage_key)
                hooks["commit"].append((marker, time.time() - t, n))
            return n

        def timed_hgetall(client, key):
            with tracer.span("staging read", "redis_sink.staging_read"):
                t = time.time()
                out = hgetall(client, key)
                hooks["read"].append((key, time.time() - t))
            return out

        redis_sink.commit_staged = timed_commit
        RespClient.hgetall = timed_hgetall

    def _listen(self) -> _Progress | None:
        if not self.tracer.enabled:
            return None
        listener = _Progress()
        self.spark.streams.addListener(listener)
        return listener

    @staticmethod
    def _manifest(path: str) -> list[dict]:
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _committed(self, ckpt: str, namespace: str) -> dict[str, int]:
        """file path -> batch id, for files in batches whose sink call returned."""
        done = {b for ns, b, _, _ in self.calls if ns == namespace}
        return {f: b for b, fs in batch_files(ckpt).items() if b in done for f in fs}

    def _stream_metrics(self, measured, files, committed, namespace, t0, t_end,
                        cpu, peak, srv0, srv1, progress) -> dict:
        """End-to-end and per-layer stream metrics of the measured phase.

        ``measured`` are the manifest records of the measured files, ``files``
        those of every file the query read."""
        ends = {b: e for ns, b, _, e in self.calls if ns == namespace}
        starts = {b: s for ns, b, s, _ in self.calls if ns == namespace}
        fresh = [ends[committed[m["path"]]] - m["due"] for m in measured
                 if m["path"] in committed]
        try:
            p50 = percentile(fresh, 0.5, 10)
            p90 = percentile(fresh, 0.9, 10)
        except TooFewSamples as exc:
            raise Void(f"freshness: {exc}") from exc
        events = sum(m["events"] for m in measured if m["path"] in committed)
        batches = sorted({committed[m["path"]] for m in measured if m["path"] in committed})
        ev_batch = {b: sum(m["events"] for m in files if committed.get(m["path"]) == b)
                    for b in batches}
        batch_events = sum(ev_batch.values())  # events the phase's batches committed
        # files visible but not yet committed when each batch started
        backlog = [sum(1 for m in files if m["visible"] <= starts[b]
                       and committed.get(m["path"], b) >= b) for b in batches]
        late = [m["visible"] - m["due"] for m in measured]
        e2e = {"setup_s": self.setup_s, "peak_rss_mb": peak / 2**20, "cpu_s": cpu,
               "freshness_p50_s": p50, "freshness_p90_s": p90,
               "events_per_s": events / (t_end - t0), "pass_s": t_end - t0}
        lay = self.layer
        lay["streaming.batches"] = len(batches)
        lay["streaming.events_per_batch_p50"] = _median(list(ev_batch.values()))
        lay["streaming.backlog_files_max"] = max(backlog)
        lay["generator.late_p99_s"] = percentile(late, 0.99)
        lay["generator.late_max_s"] = max(late)
        lay["redis_sink.call_s_p50"] = _median([ends[b] - starts[b] for b in batches])
        lay["resp.connections_per_batch"] = (srv1["connections"] - srv0["connections"]) / len(batches)
        lay["resp.commands_per_event"] = (srv1["commands"] - srv0["commands"]) / batch_events
        lay["resp.bytes_in_per_event"] = (srv1["bytes_in"] - srv0["bytes_in"]) / batch_events
        lay["resp.server_busy_s"] = srv1["busy_s"] - srv0["busy_s"]
        lay["resp.server_cpu_s"] = srv1["cpu_s"] - srv0["cpu_s"]
        if self.tracer.enabled:
            markers = {f"{namespace}:batch:{b}": b for b in batches}
            commits = {markers[m]: (t, n) for m, t, n in self.hooks["commit"] if m in markers}
            reads = {int(k.rsplit(":", 1)[1]): t for k, t in self.hooks["read"]
                     if k.startswith(f"{namespace}:stage:")}
            lay["redis_sink.commit_s_p50"] = _median([commits[b][0] for b in batches])
            lay["redis_sink.stage_s_p50"] = _median(
                [ends[b] - starts[b] - commits[b][0] - reads.get(b, 0.0) for b in batches])
            lay["redis_sink.cmds_per_batch_p50"] = _median([commits[b][1] for b in batches])
            lay["redis_sink.cmds_per_event"] = sum(commits[b][1] for b in batches) / batch_events
            jobs = {b: n for ns, b, n in self.hooks["jobs"] if ns == namespace}
            lay["streaming.jobs_per_batch"] = _median([jobs[b] for b in batches])
            deadline = time.time() + 10
            while len(progress.items) < max(batches) + 1 and time.time() < deadline:
                time.sleep(0.05)
            run_id = progress.items[-1]["runId"]  # the measured query ran last
            prog = [p for p in progress.items if p["runId"] == run_id
                    and p["batchId"] in ev_batch]
            for k, key in STREAM_PHASES.items():
                lay[f"streaming.{k}_ms_p50"] = _median([p["durationMs"].get(key, 0) for p in prog])
            lay["streaming.source_rows_per_event"] = (
                sum(p["numInputRows"] for p in prog) / sum(ev_batch[p["batchId"]] for p in prog))
        return e2e

    def _check_redis(self, files: list[str], markers: set[str]) -> list[str]:
        dump = os.path.join(self.work, "redis-dump.json")
        if self._ask("server", f"dump {dump}") != "ok":
            return ["server dump failed"]
        with open(dump) as fh:
            actual = json.load(fh)
        con = duckdb.connect()
        try:
            return redis_state_diff(redis_oracle(con, files), actual, markers)
        finally:
            con.close()

    def _phase_start(self):
        """Open the measured phase: the engine's process tree (this process,
        the JVM and its Python workers; not the generator or the server),
        its CPU so far, the server's counters and the Spark stage mark."""
        self.t_phase = time.time()
        self.ticks = cpu_ticks()
        srv = json.loads(self._ask("server", "stats")) if "server" in self.procs else None
        tree = self.tree = ProcTree(os.getpid(), exclude=[p.pid for p in self.procs.values()])
        tree.start_sampling()
        return tree, tree.cpu_s(), srv, self._stages()

    def _spoil(self, reason: str) -> None:
        """Record a failed validity check; the run still reports."""
        print(f"run spoiled: {reason}", file=sys.stderr)
        self.spoiled.append(reason)

    def _check_host(self, steal: float) -> None:
        if steal > STEAL_LIMIT:
            self._spoil(f"CPU steal {steal:.1%} above {STEAL_LIMIT:.0%}")

    # -- stream_redis -------------------------------------------------------

    def _stream_redis(self):
        src = os.path.join(self.work, "events")
        ckpt = os.path.join(self.work, "ckpt", "stream_redis")
        manifest = os.path.join(self.work, "manifest.jsonl")
        url = self._start_server()
        self._spawn("generator", os.path.join(HERE, "generator.py"), "--dir", src,
                    "--manifest", manifest, "--seed", str(self.seed),
                    "--events-per-file", str(STREAM["events_per_file"]))
        self._session()
        self._hook_sink_layers()
        progress = self._listen()
        self._ask("generator", "warm")  # the cold first micro-batch
        first = self._manifest(manifest)[0]["path"]
        schema = self.spark.read.parquet(first).schema
        df = normalize_ts(self.spark.readStream.schema(schema).parquet(src), "ts")
        self.query = (df.writeStream.queryName("bootic")
                      .foreachBatch(self._sink_fn(url, "bootic")).outputMode("update")
                      .option("checkpointLocation", ckpt)
                      .trigger(processingTime=f"{STREAM['trigger_s']} seconds").start())
        self._wait(lambda: first in self._committed(ckpt, "bootic"), 90, "cold warm-up batch")
        self.setup_s = time.time() - T_LAUNCH

        per_s, trigger_s = STREAM["files_per_s"], STREAM["trigger_s"]
        n_files = per_s * self.seconds
        gen = self.procs["generator"]
        # the load (and the measured window) starts 0.5 s before a trigger
        t0 = math.ceil((time.time() + 1.0) / trigger_s) * trigger_s - 0.5
        gen.stdin.write(f"go {t0!r} {n_files} {per_s}\n")
        gen.stdin.flush()
        time.sleep(max(0.0, t0 - time.time()))
        tree, cpu0, srv0, _ = self._phase_start()
        if gen.stdout.readline().strip() != "done":
            raise RuntimeError("generator failed")
        measured = [m for m in self._manifest(manifest) if m["phase"] == "window0"]
        paths = {m["path"] for m in measured}
        self._wait(lambda: paths <= set(self._committed(ckpt, "bootic")), 60, None)
        committed = self._committed(ckpt, "bootic")
        t_end = max((e for ns, b, _, e in self.calls if b in set(committed.values())),
                    default=time.time())
        cpu = tree.cpu_s() - cpu0
        peak = tree.stop_sampling()
        steal = steal_share(self.ticks, cpu_ticks())
        srv1 = json.loads(self._ask("server", "stats"))
        self._spark_layer(self._stages())
        self.query.stop()
        self.query = None

        self._check_host(steal)
        late = max(m["visible"] - m["due"] for m in measured)
        if late > LATE_LIMIT_S:
            self._spoil(f"generator lateness {late:.3f}s above {LATE_LIMIT_S}s")
        if any(s < t0 < e for _, _, s, e in self.calls):
            self._spoil("warm-up not finished: a micro-batch was running when the window "
                        f"opened; batches (start, duration): {self._batches(t0)}")
        files = self._manifest(manifest)
        e2e = self._stream_metrics(measured, files, committed, "bootic",
                                   t0, t_end, cpu, peak, srv0, srv1, progress)
        # files per window batch, in batch order; the first and the last are
        # partial by construction (0.5 s of files, and the window's tail)
        phase = sorted({committed[p] for p in paths if p in committed})
        per_batch = [sum(1 for m in measured if committed.get(m["path"]) == b) for b in phase]
        if len(per_batch) >= 3 and per_batch[-2] > BEHIND_LIMIT * per_s * trigger_s:
            self._spoil(f"backlog growing: the window's last full batch holds {per_batch[-2]} "
                        f"files, above {BEHIND_LIMIT} trigger intervals ({per_s * trigger_s}); "
                        f"batches (start, duration): {self._batches(t0)}")
        uncommitted = len(paths - set(committed))
        batches = set(b for ns, b, _, _ in self.calls)
        problems = self._check_redis([m["path"] for m in files],
                                     {f"bootic:batch:{b}" for b in batches})
        attempted = self.layer["streaming.batches"] + uncommitted
        failed = uncommitted + (attempted if problems else 0)
        for p in problems:
            print(f"correctness: {p}", file=sys.stderr)
        settings = self._settings(
            trigger_s=trigger_s, offered_events_per_s=per_s * STREAM["events_per_file"],
            files_per_s=per_s, measured_files=n_files, freshness_samples=len(measured),
            window_batches=len(phase), files_per_batch=per_batch, steal=round(steal, 4),
            late_max_s=round(late, 4), spoiled=self.spoiled, batches=self._batches(t0))
        return e2e, attempted, min(failed, attempted), settings

    def _batches(self, t0: float) -> list:
        """(start, duration) of every sink call, relative to ``t0``."""
        return [(round(b - t0, 3), round(e - b, 3)) for _, _, b, e in self.calls]

    def _wait(self, cond, timeout: float, what: str | None) -> bool:
        """Wait until ``cond()`` holds, re-checking after each sink call (and
        once a second, to notice a failed query)."""
        deadline = time.time() + timeout
        with self._called:
            while not cond():
                if self.query is not None and self.query.exception() is not None:
                    raise RuntimeError(f"stream failed: {self.query.exception()}")
                left = deadline - time.time()
                if left <= 0:
                    if what is not None:
                        raise Void(f"{what} did not finish within {timeout}s")
                    return False
                self._called.wait(min(left, 1.0))
        return True

    # -- batch_queries ------------------------------------------------------

    def _batch_queries(self):
        data = os.path.join(self.work, "data", "sf0.1")
        builders = {qid: registry.all_queries()[qid].__wrapped__ for _, qid, _ in QUERIES}
        with concurrent.futures.ThreadPoolExecutor(2) as pool:
            # inputs are written while the JVM starts. The warm-up (first
            # executions) of the queries that stage a table, which sets the
            # warm-up's length, runs beside that of the others; the DuckDB
            # oracles run beside both.
            rows = pool.submit(datagen.write_tables, data, DATA["sf"], DATA["docs_sf"],
                               DATA["content_seed"], self.seed)
            self._session()
            rows = rows.result()
            t_warm = time.time()
            expected = pool.submit(self._expected, data)
            staging = pool.submit(self._pass, {q: builders[q] for q in STAGING}, data, False)
            self._pass({q: b for q, b in builders.items() if q not in STAGING}, data, False)
            staging.result()
            expected = expected.result()
        self.setup_s = time.time() - T_LAUNCH
        warmup_s = time.time() - t_warm

        tree, cpu0, _, _ = self._phase_start()
        t0 = time.time()
        out = self._pass(builders, data, record=True)
        pass_s = time.time() - t0
        cpu = tree.cpu_s() - cpu0
        peak = tree.stop_sampling()
        steal = steal_share(self.ticks, cpu_ticks())
        self._check_host(steal)

        totals: dict = {}
        for layer, qid, _ in QUERIES:
            _, build, execute, _, stages = out[qid]
            self.layer[f"{layer}.{qid}.build_s"] = build
            self.layer[f"{layer}.{qid}.exec_s"] = execute
            self.layer[f"{layer}.{qid}.shuffle_write_bytes"] = stages["shuffle_write_bytes"]
            self.layer[f"{layer}.{qid}.tasks"] = stages["tasks"]
            for k, v in stages.items():
                totals[k] = totals.get(k, 0) + v
        self._spark_layer(totals)
        failed = sum(1 for qid in out if not self._check_query(qid, out[qid][0], expected[qid]))
        fresh = [done - t0 for _, _, _, done, _ in out.values()]
        in_rows = sum(rows[t] for _, _, tables in QUERIES for t in tables)
        e2e = {"setup_s": self.setup_s, "peak_rss_mb": peak / 2**20, "cpu_s": cpu,
               "freshness_p50_s": percentile(fresh, 0.5),
               "freshness_p90_s": percentile(fresh, 0.9),
               "events_per_s": in_rows / pass_s, "pass_s": pass_s}
        settings = self._settings(queries=[q for _, q, _ in QUERIES], data=DATA,
                                  input_rows=rows, steal=round(steal, 4),
                                  spoiled=self.spoiled,
                                  session_s=round(self.layer["session.get_spark_s"], 3),
                                  warmup_s=round(warmup_s, 3))
        return e2e, len(QUERIES), failed, settings

    def _pass(self, builders, data: str, record: bool) -> dict:
        out = {}
        tracer = self.tracer if record else Tracer(False)
        for qid, build in builders.items():
            with tracer.span(qid, "op"):
                t0 = time.time()
                with tracer.span("build", "registry.build"):
                    df = build(self.spark, data)
                t1 = time.time()
                with tracer.span("execute", "query.execute"):
                    pdf = df.toPandas()
                t2 = time.time()
            out[qid] = (pdf, t1 - t0, t2 - t1, t2, self._stages() if record else {})
        return out

    @staticmethod
    def _expected(data: str) -> dict:
        """What each query must return: its DuckDB oracle's normalized
        result, or the recorded digest of a digest-checked query."""
        with open(os.path.join(HERE, "expected_digests.json")) as fh:
            digests = json.load(fh)
        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")  # one core; the warm-up has the rest
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, t)}.parquet')")
            return {qid: digests[qid]["sha256"] if qid in DIGEST_CHECKED
                    else _normalize(con.execute(registry.all_oracles()[qid]).fetch_df())
                    for _, qid, _ in QUERIES}
        finally:
            con.close()

    @staticmethod
    def _check_query(qid: str, pdf: pd.DataFrame, want) -> bool:
        if qid in DIGEST_CHECKED:
            ok = result_digest(pdf) == want
        else:
            got = _normalize(pdf)
            ok = got.shape == want.shape and got.equals(want)
        if not ok:
            print(f"correctness: {qid} differs from its oracle", file=sys.stderr)
        return ok

    # -- traced output --------------------------------------------------------

    def _per_layer(self, e2e: dict) -> dict:
        units = per_layer_units()
        lay = dict.fromkeys(units, 0.0)
        lay.update(self.layer)
        self_s = self.tracer.self_times(since=self.t_phase)
        for layer in TRACE_LAYERS:
            lay[f"trace.self.{layer}_s"] = self_s.get(layer, 0.0)
        lay["trace.spans"] = len(self.tracer.spans)
        lay["trace.hooks_s"] = self.tracer.overhead_s
        lay["trace.pass_s"] = e2e["pass_s"]
        lay["trace.freshness_p90_s"] = e2e["freshness_p90_s"]
        lay["trace.cpu_s"] = e2e["cpu_s"]
        return {k: {"value": lay[k], "unit": u} for k, u in units.items()}
