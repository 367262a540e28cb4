"""Names and units of every metric the benchmark prints.

BENCHMARK.json lists the same names; tests/test_contract.py keeps the two
in step.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    # median over the timed passes of (input turns, or spans for OTLP)
    # / wall time of one pass, from reading the input to committed output
    ("turns_per_s", "turns/s", "higher"),
    # median service time of the step an operator waits on: the whole
    # pass for batch_backfill, one micro-batch's triggerExecution for
    # stream_replay, the restart call after the crash for otlp_resume
    ("latency_p50_s", "s", "lower"),
    # process start to the first timed pass: session start and the
    # warm-up passes; input generation excluded
    ("setup_s", "s", "lower"),
]

LAYERS = [
    "sources.scan",
    "functions.parse",
    "operators.enrich",
    "operators.reservoir",
    "operators.route",
    "plans.commit",
    "plans.state",
    "sources.otlp_proto",
    "streaming.pipeline",
]

LAYER_FIELDS = [
    ("self_s", "s"),
    ("jobs", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]

# work done (higher) as opposed to cost (lower)
_HIGHER = {
    "operators.reservoir.units",
    "operators.reservoir.winners",
    "streaming.pipeline.batches",
    "streaming.pipeline.rolls",
    "sources.otlp_proto.spans_per_s",
    "traced.turns_per_s",
    "untraced.turns_per_s",
}

_PER_LAYER = [
    *[(f"{layer}.{f}", unit) for layer in LAYERS for f, unit in LAYER_FIELDS],
    ("unattributed_s", "s"),
    ("traced_pass_s", "s"),
    ("plans.commit.files_written", "count"),
    ("plans.commit.dirs_written", "count"),
    ("plans.commit.bytes_written", "bytes"),
    ("operators.reservoir.units", "count"),
    ("operators.reservoir.winners", "count"),
    ("streaming.pipeline.batches", "count"),
    ("streaming.pipeline.rolls", "count"),
    ("streaming.pipeline.add_batch_p50_s", "s"),
    ("streaming.pipeline.trigger_overhead_p50_s", "s"),
    ("streaming.pipeline.flush_s", "s"),
    ("streaming.pipeline.jobs_per_batch", "count"),
    ("streaming.pipeline.state_bytes_max", "bytes"),
    ("streaming.pipeline.state_files_max", "count"),
    ("fsutil.manifest_bytes", "bytes"),
    ("sources.otlp_proto.decode_s", "s"),
    ("sources.otlp_proto.spans_per_s", "spans/s"),
    ("sources.otlp_proto.decoded_per_input_span", "ratio"),
    ("plans.state.process_unit_s", "s"),
    ("plans.state.finalize_s", "s"),
    ("plans.state.state_bytes", "bytes"),
    ("traced.turns_per_s", "turns/s"),
    ("untraced.turns_per_s", "turns/s"),
    # least-squares slope of the timed pass times per pass, as a share of
    # their median: a warm-up too short for the session shows up here
    ("passes.drift_per_pass", "ratio"),
]

# (name, unit, better)
PER_LAYER = [
    (name, unit, "higher" if name in _HIGHER else "lower") for name, unit in _PER_LAYER
]
