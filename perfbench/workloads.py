"""The benchmark's workloads: the operations one pass runs, their inputs,
and how each output is checked.

An operation is either one registered query (built with its registry
function, its rows run through its own QueryExecution) or one fold of a stream
micro-batch through a ``streaming.windows`` foreachBatch function, called
directly. The inputs are the engine's sf0.01 test tables, copied into
``data/``; the relational workload replicates their fact tables with
``tools/scale_probe.build_scaled``. The benchmark seed orders the
operations within each pass and cuts the stream batches; it never changes
the tables, so the value hashes pinned in ``pins.json`` hold for every seed.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Five of bench.HEADLINE's eleven relational queries, one per operator
# shape: scan+aggregate, join chain, ranked window, lag window over events,
# as-of join. All eleven do not fit the per-run time budget. With an odd
# count and two passes per run, the per-operation median and p90 each fall
# on the two samples of one query.
RELATIONAL_QUERIES = [
    "pricing_summary",
    "nation_order_cohorts",
    "topk_parts_per_brand",
    "user_event_deltas",
    "purchase_asof_signup",
]

# Curation queries: an eager-checkpoint plan build (intersource_dup_matrix)
# and the Python boundary with the JPEG codec (jpeg_decode_stats). The folds
# of two stream maintainers run after them in each pass: an aggregate-state
# merge (hll) and a versioned-dimension merge (scd2). The histogram merger
# and a plain shuffle dedup are left out to keep a run near a minute on a
# 4-core box; relational covers shuffles, and the histogram merger folds the
# same way as the hll one.
CURATION_QUERIES = ["intersource_dup_matrix", "jpeg_decode_stats"]

RELATIONAL_MULT = 2  # key-shifted copies of orders, lineitem and events
STREAM_BATCHES = 2


@dataclass
class Op:
    """One operation of a pass. ``build`` returns the DataFrame to run;
    ``execute`` runs it. A fold (``batch`` set) builds by reading its
    micro-batch and executes by folding it into the maintainer's state
    table under ``output``."""

    name: str
    build: Callable
    execute: Callable
    batch: int | None = None
    input_bytes: int = 0
    output: str = ""

    @property
    def kind(self) -> str:
        return "query" if self.batch is None else "fold"


@dataclass
class Workload:
    name: str
    data_dir: str
    ops: list[Op]
    reset: Callable[[], None] = lambda: None
    # (name, state table reader, batch builder) per stream maintainer
    checks: list[tuple[str, Callable, Callable]] = field(default_factory=list)

    def pass_order(self, rng: random.Random) -> list[Op]:
        """This pass's operations, in a seed-chosen order: the queries, then
        each batch's folds in batch order, maintainers shuffled per batch."""
        queries = [op for op in self.ops if op.batch is None]
        rng.shuffle(queries)
        folds = []
        for b in sorted({op.batch for op in self.ops if op.batch is not None}):
            group = [op for op in self.ops if op.batch == b]
            rng.shuffle(group)
            folds += group
        return queries + folds


def _run_rows(df) -> None:
    """Runs every row of ``df`` through the DataFrame's own QueryExecution,
    so a physical plan forced before this call is the one that executes
    (a ``noop`` write would optimize and plan the query again)."""
    df._jdf.queryExecution().toRdd().count()


def _query_op(name: str, data_dir: str) -> Op:
    from big_data_medical_analysis_spark import registry

    fn = registry.all_queries()[name].fn
    return Op(name, lambda spark: fn(spark, data_dir), _run_rows)


def tree_bytes(path: str) -> int:
    """Bytes in a file, or in every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _cut(n: int, parts: int, rng: random.Random) -> list[tuple[int, int]]:
    """``parts`` contiguous non-empty ranges covering ``range(n)``, with
    seed-chosen boundaries (each batch holds at least n / (4 * parts) rows)."""
    floor = max(n // (4 * parts), 1)
    spare = n - floor * parts
    cuts = sorted(rng.randint(0, spare) for _ in range(parts - 1))
    bounds, start = [], 0
    for i, c in enumerate(cuts + [spare]):
        end = c + floor * (i + 1)
        bounds.append((start, end))
        start = end
    return bounds


def relational(spark, work: str, seed: int) -> Workload:
    """The sf0.01 star schema with its facts replicated by
    ``scale_probe.build_scaled``. It builds under the temp dir, pointed here
    at the directory that holds every run's work directory, and reuses a
    build that an earlier run finished there."""
    os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR  # read when scale_probe is imported
    from tools import scale_probe

    run_tmp = tempfile.tempdir
    tempfile.tempdir = os.path.dirname(work)
    try:
        data = scale_probe.build_scaled(spark, RELATIONAL_MULT)
    finally:
        tempfile.tempdir = run_tmp
    return Workload("relational", data, [_query_op(q, data) for q in RELATIONAL_QUERIES])


def curation(spark, work: str, seed: int) -> Workload:
    """Curation queries plus the stream maintainers, on the sf0.01 tables."""
    from big_data_medical_analysis_spark.operators import etl, sketches
    from big_data_medical_analysis_spark.sources.readers import read_table
    from big_data_medical_analysis_spark.streaming import windows as SW

    data = SF_DIR
    ops = [_query_op(q, data) for q in CURATION_QUERIES]

    state = os.path.join(work, "state")
    factories = {
        "hll": SW.make_hll_state_merger,
        "scd2": SW.make_scd2_state_merger,
    }
    merge_fns: dict[str, Callable] = {}

    def reset() -> None:
        shutil.rmtree(state, ignore_errors=True)
        for m, make in factories.items():
            os.makedirs(os.path.join(state, m))
            merge_fns[m] = make(os.path.join(state, m))

    def fold_op(merger: str, b: int, bdir: str) -> Op:
        return Op(
            f"{merger}#{b}",
            lambda spark: read_table(spark, bdir, "events"),
            lambda df: merge_fns[merger](df, b),
            batch=b,
            input_bytes=tree_bytes(os.path.join(bdir, "events.parquet")),
            output=os.path.join(state, merger, "current"),
        )

    events = pq.read_table(os.path.join(data, "events.parquet")).sort_by("ts")
    for b, (e0, e1) in enumerate(_cut(events.num_rows, STREAM_BATCHES, random.Random(seed))):
        bdir = os.path.join(work, "batches", f"b{b}")
        os.makedirs(bdir)
        pq.write_table(events.slice(e0, e1 - e0), os.path.join(bdir, "events.parquet"))
        ops += [fold_op(m, b, bdir) for m in factories]

    def state_table(merger: str, cols: list[str]) -> Callable:
        return lambda spark: spark.read.parquet(os.path.join(state, merger, "current")).select(*cols)

    def built(fn: Callable) -> Callable:
        return lambda spark: fn(read_table(spark, data, "events"))

    checks = [
        ("hll_state", state_table("hll", ["day", "register", "rho"]),
         built(sketches.daily_event_registers)),
        ("scd2_state", state_table("scd2", ["user_id", "status", "eff_from", "eff_to", "version"]),
         built(lambda ev: etl.scd2_versions(etl.scd2_event_log(ev)))),
    ]
    return Workload("curation", data, ops, reset, checks)


WORKLOADS = {"relational": relational, "curation": curation}
