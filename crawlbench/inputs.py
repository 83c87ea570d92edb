"""Seeded inputs and their exact references, cached under the checkout.

Nothing here is timed or counted in ``setup_s``: ``run.py`` prepares
the inputs before it starts the measured process, and computes the
references after that process has ended.

* The crawl corpus does not depend on the seed. It is generated once
  per checkout with ``build_pages_spark`` and stored twice: as plain
  parquet (read by the serial oracle and the extract/kanon probes) and
  as a url-bucketed table (read by the engine, as in ``bench.py``).
  The same process then crawls it for ``BASE_ROUNDS`` rounds from fixed
  start pages and keeps that warehouse: every ``polite_trickle`` run
  resumes a copy of it, so its rounds meet a grown frontier and
  history.
* ``polite_trickle``: the seed picks one page per host, submitted to
  the resumed crawl as live submissions. The reference is
  ``oracle.crawl_oracle`` over the same corpus, start pages and
  submissions.
* ``pair_scoring``: the seed draws the vectors, the planted
  near-duplicate pairs, the query ids and each query's planted
  neighbours. The references are computed with numpy in the same float
  operation order as the operators' JVM expressions.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, List

import numpy as np

# polite_trickle corpus: 16 hosts, the last one "hot" with 10x pages
HOSTS = 16
PAGES_PER_HOST = 400
AVG_LINKS = 40
N_WORDS = 300
BUCKETS = 32
# rounds crawled into the cached base warehouse; a run resumes there
BASE_ROUNDS = 5

# pair_scoring table
N_VECTORS = 20_000
DIM = 64
LABELS = 10
N_QUERIES = 12
NEIGHBOURS_PER_QUERY = 8
PLANTED_PAIRS = 100
K = 5
THRESHOLD = 0.95


def corpus_dir(cache: str) -> str:
    return os.path.join(
        cache,
        f"corpus-h{HOSTS}-p{PAGES_PER_HOST}-l{AVG_LINKS}-w{N_WORDS}-b{BASE_ROUNDS}")


def base_warehouse(cache: str) -> str:
    return os.path.join(corpus_dir(cache), "base-warehouse")


def spark_conf(cache: str, eventlog_dir: str = None) -> dict:
    """Session settings that keep Spark's scratch files in the cache and
    its console quiet; the engine's own tuning comes from get_spark.

    Three JVM settings differ from the engine's defaults:

    * a 3 GB heap instead of 8 GB, so a run cannot take half the memory
      of a shared host;
    * ``-Xms3g``: the heap starts at full size, so peak RSS does not
      depend on when GC timing happened to grow it;
    * ``TieredStopAtLevel=1``, C1 only: with the default tiered
      compiler, most of a cold op's CPU is C2 compiler threads (74 of
      112 CPU-s in a cold crawl round), so the CPU metric would measure
      the compiler instead of the program and runs split into fast and
      slow modes. With C1 that round used 72 CPU-s, with 18 in the
      compiler, and took the same wall time."""
    conf = {
        "spark.driver.memory": "3g",
        # prepended to the engine's own spark.driver.extraJavaOptions
        "spark.driver.defaultJavaOptions": "-Xms3g -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(cache, "spark-warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def child_env(cache: str) -> dict:
    """Environment for every process that starts a JVM: temp files,
    Spark local dirs and JVM perf data stay inside the cache."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


# ---------------------------------------------------------------- corpus
def ensure_corpus(cache: str, root: str, timeout: float) -> str:
    """Generate the corpus and the base warehouse once per checkout, in
    their own process."""
    from .procfs import run_group

    d = corpus_dir(cache)
    if not os.path.isfile(os.path.join(d, "_DONE")):
        log = os.path.join(cache, "corpus.log")
        with open(log, "w") as out:
            rc = run_group([sys.executable, "-m", "crawlbench.inputs", "corpus", cache],
                           timeout, cwd=root, env=child_env(cache), stdout=out,
                           stderr=out)
        if rc != 0:
            raise RuntimeError(f"corpus build failed (exit {rc}); see {log}")
    return d


def _build_corpus(cache: str) -> None:
    from pyspark.sql import functions as F

    from krawler_spark.session import get_spark
    from krawler_spark.sources.corpus import build_pages_spark

    d = corpus_dir(cache)
    shutil.rmtree(d, ignore_errors=True)
    spark = get_spark("crawlbench-corpus", cores=4, extra_conf=spark_conf(cache))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        build_pages_spark(spark, HOSTS, PAGES_PER_HOST, avg_links=AVG_LINKS,
                          n_words=N_WORDS).write.parquet(os.path.join(d, "pages"))
        # one file per bucket (see bench.py): repartition by the same
        # hash bucketBy uses so Spark can trust the sort order
        (spark.read.parquet(os.path.join(d, "pages"))
         .repartition(BUCKETS, F.col("url"))
         .write.bucketBy(BUCKETS, "url").sortBy("url")
         .option("path", os.path.join(d, "bucketed"))
         .saveAsTable("crawlbench_corpus"))
        _build_base(spark, d)
    finally:
        spark.stop()
    open(os.path.join(d, "_DONE"), "w").close()


def _build_base(spark, d: str) -> None:
    """Crawl BASE_ROUNDS rounds from the fixed start pages."""
    from krawler_spark.engine import CrawlEngine
    from krawler_spark.sources.providers import CorpusRequestProvider

    eng = CrawlEngine(spark, config=trickle_config(BASE_ROUNDS),
                      warehouse=os.path.join(d, "base-warehouse"),
                      provider=CorpusRequestProvider(spark.table("crawlbench_corpus")))
    eng.run(seeds=base_seeds())


def load_pages(cache: str) -> Dict[str, dict]:
    """canonical url -> {"html", "text", "lang"}, the oracle's corpus."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus_dir(cache), "pages"),
                      columns=["url", "html", "text", "lang"]).to_pydict()
    return {u: {"html": h, "text": x, "lang": lg}
            for u, h, x, lg in zip(t["url"], t["html"], t["text"], t["lang"])}


# ---------------------------------------------------------------- trickle
def trickle_config(max_rounds: int):
    from krawler_spark.config import CrawlConfig

    return CrawlConfig(
        politeness_delay_ms=200,          # 5 s rounds -> 25 fetches/host/round
        round_seconds=5.0,
        max_rounds=max_rounds,
        use_bloom=True,
        bloom_buckets=64,
        bloom_bits_per_bucket=1 << 18,
        bloom_activation_rows=0,          # the bloom probe runs every round
        deterministic_history_ids=False,
        record_repeat_events=False,
    )


def _pages_per_host(rng: random.Random) -> List[str]:
    """One page per host, never a robots-blocked one."""
    from krawler_spark.sources.corpus import host_name, page_url

    out = []
    for i in range(HOSTS):
        n = PAGES_PER_HOST * (10 if i == HOSTS - 1 else 1)
        j = rng.randrange(n)
        while j % 17 == 3:
            j = rng.randrange(n)
        out.append(page_url(host_name(i, HOSTS), j))
    return out


def base_seeds() -> List[str]:
    """Start pages of the base crawl; the same in every run."""
    return _pages_per_host(random.Random("crawlbench-base"))


def trickle_seeds(seed: int) -> List[str]:
    """The seed's pages, submitted when the run resumes the base crawl."""
    return _pages_per_host(random.Random(seed))


def trickle_reference(cache: str, seed: int, rounds: int) -> List[dict]:
    """Per round: the oracle's visited ``(url, depth)`` pairs and its
    fetched / history-inserted counts. Cached per seed; a longer
    cached run serves a shorter request (rounds are a prefix)."""
    from krawler_spark.oracle import crawl_oracle

    d = os.path.join(cache, f"trickle-b{BASE_ROUNDS}-s{seed}")
    os.makedirs(d, exist_ok=True)
    for fn in os.listdir(d):
        if fn.startswith("oracle-r") and int(fn[8:-5]) >= rounds:
            with open(os.path.join(d, fn)) as f:
                return json.load(f)[:rounds]
    res = crawl_oracle(base_seeds(), load_pages(cache), trickle_config(rounds),
                       submissions={BASE_ROUNDS: [(u, 0) for u in trickle_seeds(seed)]})
    per = [{"visited": [], "fetched": 0, "deduped": 0} for _ in range(rounds)]
    for v in res.visited:
        per[v["fetch_round"]]["visited"].append([v["url"], v["depth"]])
    for r in per:
        r["fetched"] = len(r["visited"])
        r["deduped"] = r["fetched"]
    for e in res.events:
        # history-inserted kinds the oracle reports as events
        if e["kind"] in ("robots_denied", "fetch_error"):
            per[e["round"]]["deduped"] += 1
    for r in per:
        r["visited"].sort()
    tmp = os.path.join(d, f".oracle-r{rounds}.json")
    with open(tmp, "w") as f:
        json.dump(per, f)
    os.replace(tmp, os.path.join(d, f"oracle-r{rounds}.json"))
    return per


# ---------------------------------------------------------------- pairs
def spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the shortest
    decimal form."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _seq_norms(X: np.ndarray) -> np.ndarray:
    sq = X * X
    acc = sq[:, 0].copy()
    for j in range(1, X.shape[1]):
        acc += sq[:, j]
    return np.sqrt(acc)


def seq_cos(X: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of row pairs with the JVM expressions' operation order:
    products summed left to right over the dimension, then
    dot / (norm_a * norm_b)."""
    P = X[a] * X[b]
    dot = P[:, 0].copy()
    for j in range(1, X.shape[1]):
        dot += P[:, j]
    n = _seq_norms(X)
    return dot / (n[a] * n[b])


def pair_data(seed: int):
    """(ids, X float32, labels, query ids) for one seed."""
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((N_VECTORS, DIM)).astype(np.float32)
    labels = rng.integers(0, LABELS, N_VECTORS).astype(np.int32)
    perm = rng.permutation(N_VECTORS)
    queries = perm[:N_QUERIES]
    pos = N_QUERIES
    for q in queries:
        # neighbours at cos ~0.999 .. ~0.96: a ranked top-k with a gap
        # to the random background (|cos| < ~0.7 in 64 dimensions)
        for i in range(NEIGHBOURS_PER_QUERY):
            n = perm[pos]
            pos += 1
            sigma = 0.04 + 0.035 * i
            X[n] = X[q] + sigma * rng.standard_normal(DIM).astype(np.float32)
    for _ in range(PLANTED_PAIRS):
        a, b = perm[pos], perm[pos + 1]
        pos += 2
        labels[b] = labels[a]
        X[b] = X[a] + 0.05 * rng.standard_normal(DIM).astype(np.float32)
    return np.arange(N_VECTORS, dtype=np.int64), X, labels, sorted(int(q) for q in queries)


def pairs_dir(cache: str, seed: int) -> str:
    return os.path.join(cache, f"pairs-n{N_VECTORS}-s{seed}")


def ensure_pairs(cache: str, seed: int) -> dict:
    """Write the embedding table and its references for one seed."""
    d = pairs_dir(cache, seed)
    meta = os.path.join(d, "inputs.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            return json.load(f)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    ids, X, labels, queries = pair_data(seed)
    pq.write_table(pa.table({"vec_id": ids, "embedding": list(X), "label": labels}),
                   os.path.join(d, "emb.parquet"))
    Xd = X.astype(np.float64)
    ref = {"topk": topk_reference(Xd, queries), "pairs": pair_reference(Xd, labels)}
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump(ref, f)
    out = {"emb": os.path.join(d, "emb.parquet"), "queries": queries,
           "reference": os.path.join(d, "reference.json"), "n": N_VECTORS}
    with open(meta + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(meta + ".tmp", meta)
    return out


def exact_cos_rows(Xd: np.ndarray, q: int, ns: np.ndarray) -> np.ndarray:
    return seq_cos(Xd, np.full(len(ns), q), ns)


def topk_reference(Xd: np.ndarray, queries: List[int]) -> Dict[str, list]:
    """Exact top-K per query as [[n_id, rounded cos], ...], ordered by
    rounded cos descending then n_id ascending (cosine_topk's order)."""
    nrm = _seq_norms(Xd)
    approx = (Xd @ Xd[queries].T) / np.outer(nrm, nrm[queries])
    out = {}
    for j, q in enumerate(queries):
        col = approx[:, j].copy()
        col[q] = -np.inf
        order = np.argsort(-col)
        # every id whose rounded score could reach the K-th place
        kth = col[order[K - 1]]
        cand = order[col[order] >= kth - 2e-4]
        exact = exact_cos_rows(Xd, q, cand)
        rows = sorted(((-spark_round4(c), int(n)) for n, c in zip(cand, exact)))
        out[str(q)] = [[n, -c] for c, n in rows[:K]]
    return out


def pair_reference(Xd: np.ndarray, labels: np.ndarray) -> list:
    """Within-label pairs with round(cos, 4) >= THRESHOLD, as sorted
    [id_a, id_b, rounded cos]."""
    nrm = _seq_norms(Xd)
    out = []
    for lab in np.unique(labels):
        idx = np.nonzero(labels == lab)[0]
        Xn = Xd[idx] / nrm[idx][:, None]
        S = Xn @ Xn.T
        rr, cc = np.nonzero(S >= THRESHOLD - 1e-3)
        keep = idx[rr] < idx[cc]
        a, b = idx[rr][keep], idx[cc][keep]
        for x, y, c in zip(a, b, seq_cos(Xd, a, b)):
            r = spark_round4(c)
            if r >= THRESHOLD:
                out.append([int(x), int(y), r])
    return sorted(out)


if __name__ == "__main__" and sys.argv[1:2] == ["corpus"]:
    _build_corpus(sys.argv[2])
