"""The benchmark's workloads and metric lists (BENCHMARK.json mirrors them)."""
import json
import os

import check
import gen


class Stream:
    """The reference engine: frames → decode → six queries → Derby and KV.

    The JVM half generates the frames from the seed with the program's own
    reference generator (`graft.gen.ClickstreamGen`) and writes them to
    `frames.tsv`; the expected results are computed from that file.
    """
    name = "stream_clickstream"
    warm_up = 2  # untimed chunks: the queries' first plans, compiles and JIT
    chunk = 2_000  # events per chunk; draining one is one operation
    per_round = 3
    rounds = 1  # the frames hold exactly this many rounds

    def jvm_args(self, seed):
        return ["--seed", str(seed), "--warmup", str(self.warm_up), "--chunk", str(self.chunk),
                "--per-round", str(self.per_round), "--rounds", str(self.rounds)]

    def generate(self, seed, inputs):
        return None

    def check(self, _, inputs, out_dir, result):
        """The sinks after the last chunk against the frames drained."""
        path = os.path.join(out_dir, "snapshot.json")
        if not os.path.exists(path):
            return {"*": ["no sink snapshot was written"]}
        with open(path) as f:
            snapshot = json.load(f)
        events = check.read_frames(os.path.join(out_dir, "frames.tsv"))
        if len(events) != result["workload"]["events_drained"]:
            return {"*": [f"{len(events)} frames written for "
                          f"{result['workload']['events_drained']} drained"]}
        errors = check.stream_errors(snapshot, check.expected_stream(events))
        return {"*": errors} if errors else {}


class Batch:
    """A fixed list of oracle-backed registered queries over seeded tables."""
    sf = 0.01
    n_doc = 500
    n_emb = 500
    rounds = 3

    def __init__(self, name, queries):
        self.name = name
        self.queries = queries

    def jvm_args(self, seed):
        return ["--queries", ",".join(self.queries), "--rounds", str(self.rounds)]

    def generate(self, seed, inputs):
        gen.batch_tables(seed, inputs, self.sf, self.n_doc, self.n_emb)

    def check(self, _, inputs, out_dir, result):
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracles = json.load(f)
        return check.batch_errors(inputs, os.path.join(out_dir, "results"), oracles)


# One round of the batch workload: a scan + aggregate + exchange over the
# events table (ev_hourly_revenue), the pair graph → dup labels store chain
# with its connected components and checkpoints (doc_dup_groups), and
# blocked vector scoring (emb_knn_join).
BATCH_QUERIES = ["ev_hourly_revenue", "doc_dup_groups", "emb_knn_join"]

ALL = {w.name: w for w in [Stream(), Batch("batch_queries", BATCH_QUERIES)]}

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
]

STREAM_QUERIES = ["page_views", "user_sessions", "conversions", "device_stats"]
SINK_TABLES = ["device_stats", "page_view_stats", "purchase_stats", "user_sessions"]


def _m(name, unit, better):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = (
    [_m("source.decode_rows", "rows", "lower"), _m("source.scan_bytes", "bytes", "lower"),
     _m("runtime.microbatches", "count", "lower"), _m("runtime.planning_ms", "ms", "lower"),
     _m("runtime.wal_ms", "ms", "lower"), _m("runtime.add_batch_ms", "ms", "lower"),
     _m("runtime.jobs_per_microbatch", "jobs", "lower")]
    + [_m(f"pipelines.{q}.{k}", u, "lower") for q in STREAM_QUERIES
       for k, u in (("state_rows", "rows"), ("state_bytes", "bytes"),
                    ("state_rows_removed", "rows"), ("state_commit_ms", "ms"))]
    + [_m(f"sink.{t}.{k}", u, "lower") for t in SINK_TABLES
       for k, u in (("jdbc_ms", "ms"), ("jdbc_rows", "rows"))]
    + [_m("sink.kv_ms", "ms", "lower"), _m("sink.kv_ops", "count", "lower"),
       _m("queries.planning_ms", "ms", "lower"), _m("queries.jobs", "count", "lower"),
       _m("queries.tasks", "count", "lower"), _m("queries.driver_gap_ms", "ms", "lower")]
    + [_m(f"queries.{q}_s", "s", "lower") for q in BATCH_QUERIES]
    + [_m("exchange.shuffle_write_bytes", "bytes", "lower"),
       _m("exchange.shuffle_read_bytes", "bytes", "lower"),
       _m("exchange.spill_bytes", "bytes", "lower"),
       _m("executor.cpu_s", "s", "lower"), _m("executor.gc_s", "s", "lower"),
       _m("jvm.peak_heap_mb", "MB", "lower")]
)
