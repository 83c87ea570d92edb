"""The measured process: one session, one workload, timed from outside.

``run.py`` starts this module and reads back the raw record it writes:
op boundaries with process-tree CPU, JVM GC and JIT time and host CPU
samples, the round counters the engine hands its store, spans (traced
runs only), the collected pair-scoring outputs and the JVM's peak RSS.
Checks and metric arithmetic happen in ``run.py`` after this process
has ended, so none of that work competes with the program under test.

The engine is driven only through public seams: a ``SnapshotStore``
subclass and a provider wrapper passed to ``CrawlEngine``, and direct
calls into ``operators/textops.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
from typing import Callable, List, Optional

from . import inputs as inp
from . import procfs
from .spans import Tracer

# Untimed warm-up ops per workload, and the least number of timed ops
# per phase however long they take. The runner makes 4 + 22 x workloads
# runs in 3,420 s, so a run must stay well under 70 s on a loaded host.
# A crawl round costs ~11 s cold and ~7 s warm, so trickle affords one
# warm-up round. A pair-scoring pass costs ~25 s cold and ~18 s warm; a
# warm-up pass would take a run past the budget, so an untraced
# pair-scoring run times the first pass in a fresh JVM.
# A traced run warms up on at least one op, so its untraced and traced
# ops are both warm and ``tracing.overhead`` compares like with like.
WARMUP = {"polite_trickle": 1, "pair_scoring": 0}
MIN_OPS = 1


class _Stop(Exception):
    """Raised from the store's commit hook to end the crawl."""


class Meter:
    def __init__(self, spark):
        self.spark = spark
        self.pid = os.getpid()
        self.jvm = procfs.find_jvm(self.pid)

    def sample(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"t": time.time(), "cpu": procfs.tree_cpu(self.pid, self.jvm),
                "gc_s": gc_ms / 1e3,
                "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
                "host": procfs.host_cpu_ticks()}


class OpClock:
    """Op boundaries and phases: untimed warm-up ops, then timed ops
    until ``seconds`` have passed (at least MIN_OPS). A traced run
    gives the untraced phase half the time, then runs as many traced
    ops on the same inputs."""

    def __init__(self, meter: Meter, tracer: Tracer, warmup: int,
                 seconds: float, trace: bool):
        self.meter, self.tracer = meter, tracer
        self.phases = ["warmup"] * warmup
        self.plan = ["timed", "traced"] if trace else ["timed"]
        self.budget = seconds / len(self.plan)
        self.ops: List[dict] = []
        self.first_timed: Optional[float] = None
        self._phase_start: Optional[float] = None
        self._cur: Optional[dict] = None

    def phase(self) -> str:
        return self.phases[0] if self.phases else self.plan[0]

    def begin(self) -> None:
        ph = self.phase()
        self.tracer.enabled = ph == "traced"
        self._cur = {"phase": ph, "start": self.meter.sample()}
        if ph != "warmup" and self._phase_start is None:
            self._phase_start = self._cur["start"]["t"]
            if self.first_timed is None:
                self.first_timed = self._phase_start

    def end(self, **info) -> bool:
        """Close the current op; True when another op should run."""
        self._cur["end"] = self.meter.sample()
        self._cur.update(info)
        self.ops.append(self._cur)
        if self.phases:
            self.phases.pop(0)
            return True
        done = [o for o in self.ops if o["phase"] == self.plan[0]]
        if self.plan[0] == "traced":
            # the traced phase repeats the untraced ops one for one
            over = len(done) >= len([o for o in self.ops if o["phase"] == "timed"])
        else:
            over = (len(done) >= MIN_OPS
                    and self._cur["end"]["t"] - self._phase_start >= self.budget)
        if over:
            self.plan.pop(0)
            self._phase_start = None
        return bool(self.plan)


# ---------------------------------------------------------------- crawl
def _store_class():
    from krawler_spark.plans.store import SnapshotStore

    class BenchStore(SnapshotStore):
        """SnapshotStore with spans at every method the engine calls
        in a round, phase spans between them, and a commit hook.

        Phases of round r: ``chain`` from read_frontier(r) to the
        write_delta call, ``write_delta``, ``followup`` (host_state and
        bloom writes, on pool threads), and ``commit`` from the metrics
        write to the commit marker."""

        def __init__(self, spark, path, tracer: Tracer, on_commit: Callable):
            super().__init__(spark, path)
            self.tracer, self.on_commit = tracer, on_commit
            self.counters: dict = {}
            self._round = self._phase = None

        def _switch(self, name: Optional[str]) -> None:
            self.tracer.close(self._phase)
            self._phase = self.tracer.open(name, root=True) if name else None

        def read_frontier(self, round_no):
            self.tracer.trace = f"r{round_no}"
            self._round = self.tracer.open("round", root=True)
            self._switch("chain")
            with self.tracer.span("read_frontier"):
                return super().read_frontier(round_no)

        def read_history(self, upto_round):
            with self.tracer.span("read_history"):
                return super().read_history(upto_round)

        def read_snapshot(self, name, round_no):
            with self.tracer.span(f"read_snapshot.{name}"):
                return super().read_snapshot(name, round_no)

        def read_delta_round(self, round_no):
            with self.tracer.span("read_delta_round"):
                return super().read_delta_round(round_no)

        def drain_submissions(self, round_no):
            with self.tracer.span("drain_submissions"):
                return super().drain_submissions(round_no)

        def write_delta(self, round_no, df):
            self._switch(None)
            with self.tracer.span("write_delta"):
                super().write_delta(round_no, df)
            self._switch("followup")

        def write_table(self, name, round_no, df):
            # runs on the engine's follow-up pool threads: the span
            # sets this thread's job description itself
            with self.tracer.span(f"write_table.{name}"):
                super().write_table(name, round_no, df)

        def write_rows_local(self, name, round_no, rows, schema):
            if name == "metrics":
                self.counters[round_no] = {m: int(v) for _, m, v in rows}
                self._switch("commit")
            with self.tracer.span(f"write_rows_local.{name}"):
                super().write_rows_local(name, round_no, rows, schema)

        def commit_round(self, round_no, state=None):
            with self.tracer.span("commit_round"):
                super().commit_round(round_no, state)
            self._switch(None)
            self.tracer.close(self._round)
            self._round = None
            self.on_commit(round_no)

    return BenchStore


class TracedProvider:
    """Wraps the engine's fetch provider; ``robots_rules`` gets a span
    and is materialized inside it, so the span holds the parse. The
    corpus provider caches the rules once per crawl, and the engine asks
    for them when it is constructed: materializing them there puts this
    once-per-process cost in ``setup_s`` instead of the first round.
    Everything else is the wrapped provider's."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._tracer = inner, tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def robots_rules(self, user_agent):
        with self._tracer.span("providers.robots_rules"):
            rules = self._inner.robots_rules(user_agent)
            rules.count()
        return rules


def run_trickle(spark, args, tracer: Tracer, clock: OpClock) -> dict:
    """Resume the copy of the base crawl that ``run.py`` put in the work
    directory, with the seed's pages as live submissions. A traced run
    then restores the warehouse as it was after the warm-up rounds and
    runs the same rounds again, traced."""
    from krawler_spark.engine import CrawlEngine
    from krawler_spark.sources.providers import CorpusRequestProvider

    tbl = "crawlbench_pages"
    spark.sql(
        f"CREATE TABLE {tbl} (url STRING, warc_ts TIMESTAMP, html BINARY, "
        "text STRING, lang STRING) USING parquet "
        f"CLUSTERED BY (url) SORTED BY (url) INTO {inp.BUCKETS} BUCKETS "
        f"LOCATION '{os.path.join(args.corpus, 'bucketed')}'"
    )
    pages = spark.table(tbl)
    warehouse = os.path.join(args.work, "warehouse")
    warm = os.path.join(args.work, "after-warmup")
    store = None

    def on_commit(rnd: int) -> None:
        c = store.counters[rnd]
        phase = clock.phase()
        more = clock.end(round=rnd, items=c["visited"] + c["history_inserted"],
                         counters=c)
        # keep the round's visited rows for the check: the traced phase
        # rewrites the same round directories
        out = os.path.join(args.work, "outputs", f"op{len(clock.ops) - 1}")
        src = os.path.join(warehouse, "delta", f"r={rnd}", "kind=visited")
        if os.path.isdir(src):
            shutil.copytree(src, out)
        if not more:
            raise _Stop()
        if phase == "warmup" and clock.phase() != "warmup" and "traced" in clock.plan:
            shutil.copytree(warehouse, warm)
        if phase != "warmup" and clock.phase() != phase:
            raise _Stop()  # the traced phase starts again from `warm`
        clock.begin()

    def crawl(submit: bool) -> None:
        nonlocal store
        store = _store_class()(spark, warehouse, tracer, on_commit)
        provider = TracedProvider(CorpusRequestProvider(pages), tracer)
        eng = CrawlEngine(spark, config=inp.trickle_config(max_rounds=1000),
                          store=store, provider=provider)
        if submit:
            eng.submit_urls(inp.trickle_seeds(args.seed))
        clock.begin()
        try:
            eng.run(resume=True)
        except _Stop:
            pass

    crawl(submit=True)
    if clock.plan:
        shutil.rmtree(warehouse)
        shutil.copytree(warm, warehouse)
        crawl(submit=False)
    return {"warehouse": warehouse}


# ---------------------------------------------------------------- pairs
def pair_ops(spark, emb, queries):
    """The four operators with the contract's arguments
    (``__spark_entry__.py`` q_ann_ivf / q_ann_cosine_topk /
    q_ann_lsh_bucketed / q_emb_neardup_pairs), except the query ids,
    which the seed draws, and a neardup threshold that keeps the output
    small on this table."""
    from krawler_spark.operators import textops as T

    par = spark.sparkContext.defaultParallelism
    return [
        ("ivf_ann", lambda: T.ivf_ann(emb, query_ids=queries, k=inp.K,
                                      cell_stride=250, nprobe=3, dim=inp.DIM)),
        ("cosine_topk", lambda: T.cosine_topk(emb, query_ids=queries, k=inp.K,
                                              dim=inp.DIM, spread_partitions=par)),
        ("lsh_bucketed_ann", lambda: T.lsh_bucketed_ann(emb, query_ids=queries, k=inp.K)),
        ("embedding_neardup_pairs",
         lambda: T.embedding_neardup_pairs(emb, threshold=inp.THRESHOLD)),
    ]


def run_pairs(spark, args, tracer: Tracer, clock: OpClock) -> dict:
    """Passes of the four operators over the seed's table until the
    clock stops them."""
    with open(args.pairs) as f:
        pin = json.load(f)
    ops = pair_ops(spark, spark.read.parquet(pin["emb"]), pin["queries"])
    outputs = []
    i = 0
    more = True
    while more:
        warm = clock.phase() == "warmup"
        clock.begin()
        tracer.trace = f"p{i}"
        root = tracer.open("pass", root=True)
        out, walls = {}, {}
        for name, fn in ops:
            t = time.time()
            with tracer.span(f"textops.{name}"):
                out[name] = [list(r) for r in fn().collect()]
            walls[name] = time.time() - t
        tracer.close(root)
        more = clock.end(items=len(ops) * pin["n"], pass_no=i, op_walls=walls)
        if not warm:
            outputs.append({"pass": i, "out": out})
        i += 1
    return {"outputs": outputs}


WORKLOADS = {"polite_trickle": run_trickle, "pair_scoring": run_pairs}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--corpus")
    ap.add_argument("--pairs")
    args = ap.parse_args()

    from krawler_spark.session import get_spark

    evdir = os.path.join(args.work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir, exist_ok=True)
    spark = get_spark("crawlbench", cores=4,
                      extra_conf=inp.spark_conf(args.cache, evdir))
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext)
    tracer.enabled = bool(args.trace)  # setup seams are traced too
    meter = Meter(spark)
    warmup = WARMUP[args.workload]
    clock = OpClock(meter, tracer, max(warmup, 1) if args.trace else warmup,
                    args.seconds, bool(args.trace))
    raw = {"workload": args.workload, "jvm_pid": meter.jvm}
    try:
        raw.update(WORKLOADS[args.workload](spark, args, tracer, clock))
        raw["peak_rss_mb"] = procfs.vm_hwm_mb(meter.jvm)
    finally:
        raw.update(ops=clock.ops, first_timed=clock.first_timed,
                   spans=tracer.spans)
        spark.stop()
        with open(os.path.join(args.work, "raw.json"), "w") as f:
            json.dump(raw, f)


if __name__ == "__main__":
    main()
