"""The workloads and the metrics the benchmark reports.

Each workload stresses a different layer of the engine (see README.md for
why each query is on its list and which metric each layer should move).
"""
from dataclasses import dataclass, field

import gen


@dataclass
class Workload:
    name: str
    kind: str                       # "queries" or "stream"
    queries: tuple = ()
    sf: float = 0.1                 # scale factor of the generated tables
    data_seed: int = 0              # query workloads: the fixed input seed
    batch_size: int = 0             # ingest_stream: deliveries per batch
    batch_bytes: dict = field(default_factory=dict)


CDP_BOARD = (
    "q03_join_revenue", "w2_flatten_props", "l8_identity_resolution", "d4_object_sink",
)
# cdp_board's events_per_s: the queries that fold the events table into a
# warehouse table (the properties flatten) and into identities
EVENT_FOLDS = ("w2_flatten_props", "l8_identity_resolution")
SINK_QUERY = "d4_object_sink"  # cdp_board's batch_p50_s: the batch write to a sink

# ingest_stream folds one cold batch and then one warm batch per this many
# seconds of `--seconds` (at least one). The count depends on the command
# line only, so every build of the engine folds the same batches.
SECONDS_PER_WARM_BATCH = 4


def warm_batches(seconds):
    return max(1, int(round(seconds / SECONDS_PER_WARM_BATCH)))


ALL = {w.name: w for w in [
    Workload("cdp_board", "queries", CDP_BOARD, sf=0.1, data_seed=42),
    Workload("ingest_stream", "stream", batch_size=gen.BATCH_SIZE),
]}

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
    ("query_p90_s", "s"), ("events_per_s", "events/s"), ("batch_p50_s", "s"),
    ("read_p50_s", "s"), ("heap_live_mb", "MB"),
]

PER_LAYER = [
    ("construct_s", "s"), ("first_construct_s", "s"), ("construct_jobs", "count"),
    ("plan_s", "s"), ("plan_kb", "KB"), ("exec_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("task_cpu_s", "s"), ("core_busy", "ratio"),
    ("input_mb", "MB"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
    ("codegen_classes", "count"), ("codegen_compile_s", "s"), ("scratch_mb", "MB"),
    ("gc_s", "s"), ("tracks_fold_s", "s"), ("schema_fold_s", "s"), ("identity_fold_s", "s"),
    ("compact_s", "s"), ("batch_jobs", "count"), ("write_amp", "ratio"),
    ("state_files", "count"), ("state_mb", "MB"),
]
