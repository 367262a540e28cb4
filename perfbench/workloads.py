"""The three workloads: input generation, one checked pass, one traced pass.

All are closed loop: one process, `local[<cores>]`, every input present
before timing starts, the next pass starting only after the previous one
committed. Inputs are pure functions of the seed, made at the start of
every run; generation time is excluded from every metric. The digest of
the sampled set is stored per (workload, seed, size) and checked on every
later run.

  batch_backfill : `synth.generate_transcripts` defaults (hot
                   mega-conversation, ~1% invalid rows, late
                   conversations) -> run_pipeline + write_sinks.
  stream_replay  : the same rows cut into time-ordered files, one per
                   trigger -> run_incremental_routed + flush_incremental.
  otlp_resume    : OTLP ExportTraceServiceRequest payloads (uniform 1-12
                   span traces over several services, no hot key) ->
                   decode_otlp_traces -> transcripts_from_spans ->
                   run_with_checkpoint, crashed after half the slices and
                   then resumed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import Observation, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener

from checks import OutputSummary, PassResult
from eventlog import GroupStats
from tracing import GROUP_PREFIX, Tracer, noop, tree_stats

from trace_aware_reservoir_otel_spark.config import PipelineConfig
from trace_aware_reservoir_otel_spark.functions.parse import with_parsed_fields
from trace_aware_reservoir_otel_spark.operators.enrich import enrich
from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window
from trace_aware_reservoir_otel_spark.plans import commit, state
from trace_aware_reservoir_otel_spark.plans.pipeline import (
    build_routed,
    run_pipeline,
    write_sinks,
)
from trace_aware_reservoir_otel_spark.sources.otlp_proto import (
    decode_otlp_traces,
    encode_export_request,
    transcripts_from_spans,
)
from trace_aware_reservoir_otel_spark.streaming.pipeline import (
    flush_incremental,
    incremental_conservation,
    read_exported,
    run_incremental_routed,
    streaming_metrics,
)
from trace_aware_reservoir_otel_spark.synth import generate_transcripts

# Sizes keep a run (session start, generation, warm-up, two timed passes)
# near 45 s on a 4-core box. A pass costs several seconds of per-job,
# per-file and per-trigger overhead whatever the input size (halving the
# rows saved under 5% of a pass), so the stream gets two triggers and the
# checkpoint two slices, and the row counts stay where they are.
N_CONVS = 2000  # ~13.3k turns
STREAM_FILES = 2
OTLP_PAYLOADS = 40
OTLP_TRACES_PER_PAYLOAD = 20  # ~5.2k spans
OTLP_SERVICES = 6
OTLP_UNITS = 2
OTLP_BASE_NS = 1_704_067_200 * 10**9
K = 16

BATCH_CFG = PipelineConfig(size_k=K, window_duration_s=60)
# no late tolerance, so buckets roll mid-stream as the watermark passes
STREAM_CFG = PipelineConfig(
    size_k=K, window_duration_s=60, late_tolerance_s=None, export_bucket_windows=8
)
OTLP_CFG = PipelineConfig(size_k=K, window_duration_s=60)


def summarize(routed) -> OutputSummary:
    """Sink row counts and the distinct sampled (window, conversation) set
    of a routed output frame, from one aggregation over it."""
    sink_rows: "dict[str, int]" = {}
    sampled = []
    for r in routed.groupBy("sink", "window_start_s", "conv_id").count().collect():
        sink_rows[r["sink"]] = sink_rows.get(r["sink"], 0) + int(r["count"])
        if r["sink"] == "sampled_traces":
            sampled.append((int(r["window_start_s"]), r["conv_id"]))
    return OutputSummary(sink_rows, sampled)


def _reservoir_counts(routed) -> dict:
    """Units the reservoir saw (distinct non-dlq (window, conversation)
    pairs) and the winners it kept, counted from the routed output."""
    keys = routed.select("sink", "window_start_s", "conv_id").distinct()
    units = keys.filter(F.col("sink") != "dlq").count()
    winners = keys.filter(F.col("sink") == "sampled_traces").count()
    return {"operators.reservoir.units": units, "operators.reservoir.winners": winners}


class Workload:
    name = ""
    cfg = BATCH_CFG

    def __init__(self, spark: SparkSession, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scratch = work / "run"
        self.input_dir = work / "inputs" / self.name
        self.rows = 0

    def attach(self, spark: SparkSession) -> None:
        """Use another session (after a context restart)."""
        self.spark = spark

    # -- inputs ---------------------------------------------------------
    def size_key(self) -> str:
        raise NotImplementedError

    def generate(self, dest: Path) -> int:
        """Write the inputs under `dest`; return the input row count."""
        raise NotImplementedError

    def prepare(self) -> float:
        """Generate the inputs; return the seconds it took.

        Inputs are made afresh in every run rather than cached across runs:
        generation runs Spark jobs that warm the JVM, so a cache hit would
        leave the measured session colder than a miss (a 17 s instead of a
        12 s first pass), and isolating generation in its own JVM costs
        more time than a run has."""
        t0 = time.perf_counter()
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.input_dir.mkdir(parents=True)
        self.rows = self.generate(self.input_dir)
        return time.perf_counter() - t0

    # -- reference digest of the sampled set, per (workload, seed, size) --
    def _digest_key(self) -> str:
        return f"{self.name}-seed{self.seed}-{self.size_key()}"

    def stored_digest(self) -> "str | None":
        path = self.work / "digests.json"
        if not path.exists():
            return None
        return json.loads(path.read_text()).get(self._digest_key())

    def store_digest(self, digest: str) -> None:
        path = self.work / "digests.json"
        digests = json.loads(path.read_text()) if path.exists() else {}
        if digests.get(self._digest_key()) == digest:
            return
        digests[self._digest_key()] = digest
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(digests, indent=1, sort_keys=True))
        os.replace(tmp, path)

    def fresh_scratch(self) -> Path:
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.scratch.mkdir(parents=True)
        return self.scratch

    # -- passes ---------------------------------------------------------
    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def traced_pass(self, tracer: Tracer) -> "tuple[PassResult, dict]":
        """One pass with per-layer spans. Returns the pass result (checked
        like any other) and the per-layer counts measured from outside."""
        raise NotImplementedError

    def self_times(self, tracer: Tracer, groups: dict) -> "dict[str, GroupStats]":
        """Per-layer self time and Spark totals from the folded event log.
        Eager layers own the jobs of their job group; subclasses whose
        traced pass is a chain of prefixes override this."""
        return {layer: groups.get(layer) for layer in tracer.layers()}

    def traced_wall(self, tracer: Tracer) -> float:
        return tracer.total_wall()

    def job_group_alias(self) -> dict:
        return {}


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch's durations (and, while `sample_dir` is
    set, the size of that directory when the batch's progress arrives)."""

    def __init__(self):
        self.batches: "list[dict]" = []
        self.terminated = 0
        self.sample_dir: "Path | None" = None

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {k: float(v) for k, v in p.durationMs.items()}
        rec["run_id"] = str(p.runId)
        if self.sample_dir is not None:
            files, _, nbytes = tree_stats(self.sample_dir)
            rec["state_files"], rec["state_bytes"] = files, nbytes
        self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def mark(self) -> "tuple[int, int]":
        return len(self.batches), self.terminated

    def since(self, mark: "tuple[int, int]", expect: int, timeout_s: float = 30.0) -> "list[dict]":
        """Batches of the query started after `mark`, once its termination
        event (posted after its last progress event) has arrived."""
        deadline = time.monotonic() + timeout_s
        while self.terminated <= mark[1]:
            if time.monotonic() > deadline:
                raise RuntimeError("no termination event from the streaming query")
            time.sleep(0.02)
        batches = self.batches[mark[0]:]
        if len(batches) != expect:
            raise RuntimeError(f"{len(batches)} micro-batches, expected {expect}")
        return batches


class BatchBackfill(Workload):
    name = "batch_backfill"
    cfg = BATCH_CFG

    def size_key(self) -> str:
        return f"convs{N_CONVS}"

    def generate(self, dest: Path) -> int:
        rows = Observation("generated_rows")
        generate_transcripts(self.spark, n_convs=N_CONVS, seed=self.seed).observe(
            rows, F.count(F.lit(1)).alias("n")
        ).write.parquet(str(dest / "transcripts"))
        return int(rows.get["n"])

    def _raw(self):
        return self.spark.read.parquet(str(self.input_dir / "transcripts"))

    def run_pass(self) -> PassResult:
        out = self.fresh_scratch() / "out"
        t0 = time.perf_counter()
        write_sinks(run_pipeline(self._raw(), self.cfg), str(out))
        wall = time.perf_counter() - t0
        return PassResult(
            wall, [wall], lambda: summarize(commit.read_committed(self.spark, str(out / "routed")))
        )

    # The batch plan is lazy: calling a layer's function runs nothing.
    # So the traced pass materialises, in pipeline order, the output of
    # every layer so far to a noop sink (a prefix of the pipeline), each
    # prefix under its layer's job group. A layer's self time is its
    # prefix's job time minus the previous prefix's.
    PREFIXES = (
        "sources.scan",
        "functions.parse",
        "operators.enrich",
        "operators.reservoir",
        "operators.route",
        "plans.commit",
    )

    def traced_pass(self, tracer: Tracer) -> "tuple[PassResult, dict]":
        out = self.fresh_scratch() / "out"
        w = self.cfg.window_duration_s

        def parsed():
            return with_parsed_fields(with_tumbling_window(self._raw(), "ts", w))

        def built(pick):
            persisted: list = []
            frames = build_routed(self._raw(), self.cfg, persisted_out=persisted)
            try:
                noop(pick(frames))
            finally:
                for df in persisted:
                    df.unpersist()

        steps = {
            "sources.scan": lambda: noop(self._raw()),
            "functions.parse": lambda: noop(parsed()),
            "operators.enrich": lambda: noop(enrich(parsed())),
            # the reservoir branch joins the enriched rows only at routing,
            # so this prefix materialises both branch heads
            "operators.reservoir": lambda: (
                noop(enrich(parsed())),
                built(lambda f: f[1]),
            ),
            "operators.route": lambda: built(lambda f: f[0]),
            "plans.commit": lambda: write_sinks(
                run_pipeline(self._raw(), self.cfg), str(out)
            ),
        }
        for layer in self.PREFIXES:
            with tracer.layer(layer):
                steps[layer]()
        wall = tracer.wall("plans.commit")
        routed = commit.read_committed(self.spark, str(out / "routed"))
        summary = summarize(routed)
        files, dirs, nbytes = tree_stats(out)
        counts = {
            "plans.commit.files_written": files,
            "plans.commit.dirs_written": dirs,
            "plans.commit.bytes_written": nbytes,
            **_reservoir_counts(routed),
        }
        return PassResult(wall, [wall], lambda: summary), counts

    def self_times(self, tracer: Tracer, groups: dict) -> "dict[str, GroupStats]":
        out = {}
        prev = None
        for layer in self.PREFIXES:
            cur = groups.get(layer) or GroupStats()
            out[layer] = cur.minus(prev)
            prev = cur
        return out

    def traced_wall(self, tracer: Tracer) -> float:
        return tracer.wall("plans.commit")


class StreamReplay(Workload):
    name = "stream_replay"
    cfg = STREAM_CFG

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.query_run_ids: "list[str]" = []
        self.attach(spark)

    def attach(self, spark: SparkSession) -> None:
        super().attach(spark)
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)

    def size_key(self) -> str:
        return f"convs{N_CONVS}-files{STREAM_FILES}"

    def generate(self, dest: Path) -> int:
        """batch_backfill's rows for the same seed, range-partitioned by ts
        into STREAM_FILES files, so file i holds the i-th time slice; file
        mtimes follow that order, which is the order the file source picks
        them up in."""
        tmp = dest / "_ranged"
        (
            generate_transcripts(self.spark, n_convs=N_CONVS, seed=self.seed)
            .repartitionByRange(STREAM_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.parquet(str(tmp))
        )
        parts = sorted(tmp.glob("part-*.parquet"))
        if len(parts) != STREAM_FILES:
            raise RuntimeError(f"expected {STREAM_FILES} stream files, got {len(parts)}")
        files = dest / "files"
        files.mkdir()
        for i, p in enumerate(parts):
            dst = files / f"{i:03d}.parquet"
            shutil.move(str(p), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmp)
        # counted from the files: the range partitioning's sampling job
        # runs the generator a second time, so an Observation counts twice
        return self.spark.read.parquet(str(files)).count()

    def _run(self, d: Path) -> "tuple[float, float]":
        cfg = self.cfg
        t0 = time.perf_counter()
        run_incremental_routed(
            self.spark, str(self.input_dir / "files"), cfg,
            str(d / "state"), str(d / "ck"), str(d / "out"),
        )
        t1 = time.perf_counter()
        flush_incremental(self.spark, cfg, str(d / "state"), str(d / "out"))
        t2 = time.perf_counter()
        return t2 - t0, t2 - t1

    def _summary(self, d: Path):
        rows_in, rows_out = incremental_conservation(self.spark, str(d / "state"), str(d / "out"))
        if rows_in != rows_out:
            raise RuntimeError(f"streaming conservation: {rows_in} in, {rows_out} routed")
        routed = read_exported(self.spark, str(d / "state"), str(d / "out"))
        strag = d / "out" / "routed_stragglers"
        cols = ["sink", "window_start_s", "conv_id"]
        routed = routed.select(*cols)
        if strag.exists():
            routed = routed.unionByName(self.spark.read.parquet(str(strag)).select(*cols))
        return summarize(routed), routed

    def run_pass(self) -> PassResult:
        d = self.fresh_scratch()
        mark = self.progress.mark()
        wall, _ = self._run(d)
        batches = self.progress.since(mark, expect=STREAM_FILES)
        trig = [b["triggerExecution"] / 1000 for b in batches]
        return PassResult(wall, trig, lambda: self._summary(d)[0])

    def traced_pass(self, tracer: Tracer) -> "tuple[PassResult, dict]":
        d = self.fresh_scratch()
        self.progress.sample_dir = d / "state"
        mark = self.progress.mark()
        with tracer.layer("streaming.pipeline"):
            wall, flush_s = self._run(d)
        batches = self.progress.since(mark, expect=STREAM_FILES)
        self.progress.sample_dir = None
        summary, routed = self._summary(d)
        gauges = {
            r["metric"]: r["value"]
            for r in streaming_metrics(self.spark, str(d / "state")).collect()
        }
        trig = [b["triggerExecution"] / 1000 for b in batches]
        add = [b.get("addBatch", 0) / 1000 for b in batches]
        counts = {
            "streaming.pipeline.batches": gauges["epochs"],
            "streaming.pipeline.rolls": gauges["buckets_exported"],
            "streaming.pipeline.add_batch_p50_s": statistics.median(add),
            "streaming.pipeline.trigger_overhead_p50_s": statistics.median(
                [t - a for t, a in zip(trig, add)]
            ),
            "streaming.pipeline.flush_s": flush_s,
            "streaming.pipeline.state_bytes_max": max(b["state_bytes"] for b in batches),
            "streaming.pipeline.state_files_max": max(b["state_files"] for b in batches),
            **_reservoir_counts(routed),
        }
        self.query_run_ids = [b["run_id"] for b in batches]
        return PassResult(wall, trig, lambda: summary), counts

    def job_group_alias(self) -> dict:
        # micro-batch jobs run under the streaming query's run id
        return {rid: GROUP_PREFIX + "streaming.pipeline" for rid in self.query_run_ids}


class OtlpResume(Workload):
    name = "otlp_resume"
    cfg = OTLP_CFG

    def size_key(self) -> str:
        return f"payloads{OTLP_PAYLOADS}x{OTLP_TRACES_PER_PAYLOAD}"

    def generate(self, dest: Path) -> int:
        rnd = random.Random(self.seed)
        payloads = []
        n_spans = 0
        for p in range(OTLP_PAYLOADS):
            spans = []
            for _ in range(OTLP_TRACES_PER_PAYLOAD):
                trace_id = rnd.getrandbits(128).to_bytes(16, "big").hex()
                start = OTLP_BASE_NS + rnd.randrange(3600 * 10**9)
                for s in range(rnd.randint(1, 12)):
                    t = start + s * 10**9
                    spans.append(
                        {
                            "trace_id_hex": trace_id,
                            "span_id_hex": rnd.getrandbits(64).to_bytes(8, "big").hex(),
                            "name": f"op-{s}",
                            "kind": 1,
                            "start_unix_nano": t,
                            "end_unix_nano": t + 5_000_000,
                            "attrs": {"role": "tool"},
                        }
                    )
            n_spans += len(spans)
            payloads.append(
                (encode_export_request(spans, service_name=f"svc-{p % OTLP_SERVICES}"),)
            )
        (
            self.spark.createDataFrame(payloads, "payload binary")
            .repartition(self.spark.sparkContext.defaultParallelism)
            .write.parquet(str(dest / "payloads"))
        )
        return n_spans

    def _transcripts(self):
        payloads = self.spark.read.parquet(str(self.input_dir / "payloads"))
        return transcripts_from_spans(decode_otlp_traces(payloads))

    def _crash_and_resume(self, d: Path) -> "tuple[float, float]":
        tr = self._transcripts()
        args = (self.spark, tr, self.cfg, str(d / "state"), str(d / "out"))
        t0 = time.perf_counter()
        crashed = state.run_with_checkpoint(
            *args, n_units=OTLP_UNITS, fail_after_unit=OTLP_UNITS // 2 - 1
        )
        t1 = time.perf_counter()
        if crashed is not None:
            raise RuntimeError("the injected crash did not stop the run")
        state.run_with_checkpoint(*args, n_units=OTLP_UNITS)
        t2 = time.perf_counter()
        return t2 - t0, t2 - t1

    def run_pass(self) -> PassResult:
        d = self.fresh_scratch()
        wall, resume = self._crash_and_resume(d)
        return PassResult(
            wall,
            [resume],
            lambda: summarize(commit.read_committed(self.spark, str(d / "out" / "routed"))),
        )

    def traced_pass(self, tracer: Tracer) -> "tuple[PassResult, dict]":
        d = self.fresh_scratch()
        with tracer.layer("sources.otlp_proto"):
            noop(self._transcripts())
        decode_s = tracer.wall("sources.otlp_proto")
        with tracer.wrapped(state, "process_unit", "plans.state"), tracer.wrapped(
            state, "finalize", "plans.state"
        ), tracer.wrapped(commit, "commit_write", "plans.commit"):
            with tracer.layer("plans.state"):
                wall, resume = self._crash_and_resume(d)
        routed = commit.read_committed(self.spark, str(d / "out" / "routed"))
        summary = summarize(routed)
        files, dirs, nbytes = tree_stats(d / "out")
        counts = {
            "sources.otlp_proto.decode_s": decode_s,
            "sources.otlp_proto.spans_per_s": self.rows / decode_s,
            "plans.state.process_unit_s": statistics.median(tracer.call_walls("process_unit")),
            "plans.state.finalize_s": statistics.median(tracer.call_walls("finalize")),
            "plans.state.state_bytes": tree_stats(d / "state")[2],
            "plans.commit.files_written": files,
            "plans.commit.dirs_written": dirs,
            "plans.commit.bytes_written": nbytes,
            **_reservoir_counts(routed),
        }
        return PassResult(wall, [resume], lambda: summary), counts


WORKLOADS = {w.name: w for w in (BatchBackfill, StreamReplay, OtlpResume)}
