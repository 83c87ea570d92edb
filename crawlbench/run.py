"""Crawl benchmark entry point.

    python3 crawlbench/run.py --workload polite_trickle --seed 1 --seconds 10 --trace 0

Prepares the seeded inputs, runs ``crawlbench.measure`` in its own
process (its start is the start of ``setup_s``), checks every timed op
against an exact reference, self-tests each check on a corrupted copy,
and prints one JSON line last: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. The line before it is run metadata
(noise provenance: steal share, CPU split, GC, warm-up ops). See
``crawlbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("polite_trickle", "pair_scoring")
PHASES = ("chain", "write_delta", "followup", "commit")
TEXTOPS = ("ivf_ann", "cosine_topk", "lsh_bucketed_ann", "embedding_neardup_pairs")
MEASURE_LIMIT_S = 140.0  # the measured process; checks need the rest of 180 s
CORPUS_LIMIT_S = 600.0   # the one-off corpus build of a fresh checkout
PROBE_PAGES = 200        # extract/kanon sample size


def _fail(msg: str) -> None:
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- process
def measure(args, cache: str, work: str, extra: list, limit: float) -> dict:
    from crawlbench.inputs import child_env
    from crawlbench.procfs import run_group

    cmd = [sys.executable, "-m", "crawlbench.measure",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cache", cache, "--work", work] + extra
    t_spawn = time.time()
    with open(os.path.join(work, "measure.log"), "w") as log:
        rc = run_group(cmd, limit, cwd=ROOT, env=child_env(cache),
                       stdout=log, stderr=log)
    if rc != 0:
        with open(os.path.join(work, "measure.log")) as f:
            tail = f.read()[-3000:]
        _fail(f"measured process {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    raw["t_spawn"] = t_spawn
    return raw


# ---------------------------------------------------------------- helpers
def _wall(op: dict) -> float:
    return op["end"]["t"] - op["start"]["t"]


def _delta(ops: list, key: str) -> float:
    return sum(o["end"]["cpu"][key] - o["start"]["cpu"][key] for o in ops)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def provenance(raw: dict, phase: str) -> dict:
    """Run metadata that explains drift: host steal, where the CPU went,
    GC and JIT compiler time, and what each warm-up op cost."""
    from crawlbench.procfs import steal_share

    ops = [o for o in raw["ops"] if o["phase"] == phase]
    warm = [o for o in raw["ops"] if o["phase"] == "warmup"]
    return {
        "steal_share": steal_share(ops[0]["start"]["host"], ops[-1]["end"]["host"]),
        "cpu_s": {k: _delta(ops, k) for k in ("driver", "jvm", "workers")},
        "jvm_gc_s": sum(o["end"]["gc_s"] - o["start"]["gc_s"] for o in ops),
        "jit_compile_s": sum(o["end"]["jit_s"] - o["start"]["jit_s"] for o in ops),
        "op_walls_s": [_wall(o) for o in ops],
        "operator_walls_s": [o["op_walls"] for o in ops if "op_walls" in o],
        "warmup_ops": [{"wall_s": _wall(o), "cpu_s": _delta([o], "total"),
                        "jit_compile_s": o["end"]["jit_s"] - o["start"]["jit_s"]}
                       for o in warm],
    }


# ---------------------------------------------------------------- checks
def _visited_rows(d: str) -> list:
    import pyarrow.parquet as pq

    if not os.path.isdir(d):
        return []
    t = pq.read_table(d, columns=["url", "depth"]).to_pydict()
    return [[u, int(x)] for u, x in zip(t["url"], t["depth"])]


def check_trickle(raw: dict, cache: str, seed: int, work: str) -> dict:
    from crawlbench import checks, inputs

    timed = [dict(o, index=i) for i, o in enumerate(raw["ops"]) if o["phase"] != "warmup"]
    ref = inputs.trickle_reference(cache, seed, max(o["round"] for o in timed) + 1)
    failed, got_n, ref_n, problems, sample = 0, 0, 0, [], None
    for o in timed:
        got = {"visited": _visited_rows(os.path.join(work, "outputs", f"op{o['index']}")),
               "fetched": o["counters"]["visited"],
               "deduped": o["counters"]["history_inserted"]}
        p = checks.check_round(got, ref[o["round"]])
        if p:
            failed += 1
            problems.append({"round": o["round"], "problems": p})
        g, n = checks.round_recall(got, ref[o["round"]])
        got_n, ref_n = got_n + g, ref_n + n
        if sample is None:
            sample = (got, ref[o["round"]])
    self_test = checks.crawl_self_test(*sample)
    return {"failed": failed, "problems": problems, "self_test": self_test,
            "recall": got_n / ref_n if ref_n else 0.0, "reference": ref}


def check_pairs(raw: dict, cache: str, seed: int) -> dict:
    from crawlbench import checks, inputs

    with open(os.path.join(inputs.pairs_dir(cache, seed), "reference.json")) as f:
        ref = json.load(f)
    Xd = inputs.pair_data(seed)[1].astype("float64")
    ref_pairs = set(map(tuple, ref["pairs"]))
    failed, problems, recalls, per_op = 0, [], [], {}
    for p in raw["outputs"]:
        out = p["out"]
        probs = checks.check_topk(out["cosine_topk"], ref["topk"])
        r = {"cosine_topk": checks.check_ann(out["cosine_topk"], Xd, ref["topk"])[1]}
        for name in ("ivf_ann", "lsh_bucketed_ann"):
            bad, r[name] = checks.check_ann(out[name], Xd, ref["topk"])
            probs += bad
        probs += checks.check_pairs(out["embedding_neardup_pairs"], ref["pairs"])
        got_pairs = set(map(tuple, out["embedding_neardup_pairs"]))
        r["embedding_neardup_pairs"] = (len(got_pairs & ref_pairs) / len(ref_pairs)
                                        if ref_pairs else 1.0)
        if probs:
            failed += 1
            problems.append({"pass": p["pass"], "problems": probs[:5]})
        recalls.append((r["ivf_ann"] + r["lsh_bucketed_ann"]) / 2)
        per_op[p["pass"]] = r
    self_test = checks.pairs_self_test(raw["outputs"][0]["out"], Xd, ref)
    return {"failed": failed, "problems": problems, "self_test": self_test,
            "recall": _mean(recalls), "per_op": per_op}


# ---------------------------------------------------------------- metrics
def end_to_end(raw: dict, checked: dict) -> dict:
    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    items = sum(o["items"] for o in ops)
    wall = sum(_wall(o) for o in ops)
    return {
        "setup_s": (raw["first_timed"] - raw["t_spawn"], "s"),
        "items_per_s": (items / wall, "1/s"),
        "op_p50_s": (statistics.median(_wall(o) for o in ops), "s"),
        "cpu_s_per_kitem": (_delta(ops, "total") / (items / 1e3), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "recall": (checked["recall"], "ratio"),
    }


def harvest_probe(cache: str, urls: list) -> tuple:
    """Direct calls into functions/extract.py and functions/kanon.py on
    a fixed sample of the workload's pages, in the engine's harvest
    order: extract_hrefs per page, then the fast canonicalizer with the
    full parser as fallback per href. Median of 5 passes."""
    from crawlbench.inputs import load_pages
    from krawler_spark.functions.extract import extract_hrefs
    from krawler_spark.functions.kanon import fast_child_canonical, parse_url

    pages = load_pages(cache)
    sample = [(u, pages[u]["html"]) for u in urls if u in pages]
    hrefs = [(u, [h for h, _ in extract_hrefs(html) if not h.startswith("#")])
             for u, html in sample]
    n_urls = sum(len(h) for _, h in hrefs)
    ext, kan = [], []
    for _ in range(5):
        t = time.perf_counter()
        for _, html in sample:
            extract_hrefs(html)
        ext.append(time.perf_counter() - t)
        t = time.perf_counter()
        for u, hs in hrefs:
            page = parse_url(u)
            for h in hs:
                if fast_child_canonical(h, page) is None:
                    parse_url(h, page)
        kan.append(time.perf_counter() - t)
    return (statistics.median(ext) / len(sample) * 1e6,
            statistics.median(kan) / n_urls * 1e6)


def per_layer(raw: dict, checked: dict, work: str, cache: str) -> dict:
    from crawlbench import eventlog, spans as sp

    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    traced = [o for o in raw["ops"] if o["phase"] == "traced"]
    kitems = sum(o["items"] for o in timed) / 1e3
    m = {
        "tracing.overhead": (statistics.median(map(_wall, traced))
                             / statistics.median(map(_wall, timed)) - 1, "ratio"),
        "proc.jvm_cpu_s": (_delta(timed, "jvm") / kitems, "s/kitem"),
        "proc.python_cpu_s": (_delta(timed, "workers") / kitems, "s/kitem"),
        "proc.gc_s": (sum(o["end"]["gc_s"] - o["start"]["gc_s"] for o in timed)
                      / kitems, "s/kitem"),
    }
    evdir = os.path.join(work, "eventlog")
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    ev = eventlog.read_log(logs[0])
    spans = raw["spans"]
    traces = {o.get("round", o.get("pass_no")) for o in traced}
    trace_ids = {(f"r{t}" if raw["workload"] == "polite_trickle" else f"p{t}") for t in traces}

    def spans_named(name):
        return [s for s in spans if s["name"] == name and s["trace"] in trace_ids
                and s["end"] is not None]

    def mean_dur(name):
        return _mean(s["end"] - s["start"] for s in spans_named(name))

    crawl = raw["workload"] == "polite_trickle"
    n_tr = len(traced)
    # phase of each job tag: walk the span tree up to a phase span
    by_id = {s["id"]: s for s in spans}
    phase_of = {}
    for s in spans:
        p = s
        while p is not None and p["name"] not in PHASES:
            p = by_id.get(p["parent"])
        if p is not None:
            phase_of[f"{s['trace']}:{s['name']}"] = p["name"]
    for ph in PHASES:
        tot = dict.fromkeys(eventlog.TASK_FIELDS, 0.0)
        for tag, v in ev["tags"].items():
            if tag.split(":", 1)[0] in trace_ids and phase_of.get(tag) == ph:
                for k in eventlog.TASK_FIELDS:
                    tot[k] += v[k]
        for k in eventlog.TASK_FIELDS:
            m[f"spark.{ph}.{k}"] = (tot[k] / n_tr if crawl else 0.0,
                                    "B" if k.endswith("bytes") else "s")

    rounds = spans_named("round")
    jobs = [eventlog.jobs_in(ev["jobs"], s["start"], s["end"]) for s in rounds]
    gaps = [(s["end"] - s["start"]) - sp.covered(
        [(j["submit"], j["end"] or s["end"]) for j in js], s["start"], s["end"])
        for s, js in zip(rounds, jobs)]
    counters = {o["round"]: o["counters"] for o in raw["ops"]} if crawl else {}
    fetched = sum(counters[o["round"]]["visited"] for o in traced) if crawl else 0
    entering = sum(counters[o["round"] - 1]["frontier_next"] for o in traced) if crawl else 0
    wh = raw.get("warehouse", "")
    delta_b = sum(_dir_bytes(os.path.join(wh, "delta", f"r={t}")) for t in traces) if crawl else 0
    m.update({
        "engine.round_jobs": (_mean(len(js) for js in jobs), "count"),
        "engine.round_gap_s": (_mean(gaps), "s"),
        "engine.chain_s": (mean_dur("chain"), "s"),
        "engine.admit_ratio": (fetched / entering if entering else 0.0, "ratio"),
        "store.write_delta_s": (mean_dur("write_delta"), "s"),
        "store.delta_bytes_per_item": (
            delta_b / sum(o["items"] for o in traced) if crawl else 0.0, "B"),
        "store.followup_s": (mean_dur("followup"), "s"),
        "store.commit_s": (mean_dur("commit"), "s"),
        "bloom.write_s": (mean_dur("write_table.bloom"), "s"),
        "bloom.shard_bytes": (_mean(_dir_bytes(os.path.join(wh, "bloom", f"r={t}"))
                                    for t in traces) if crawl else 0.0, "B"),
        "providers.robots_rules_s": (_mean(
            s["end"] - s["start"] for s in spans
            if s["name"] == "providers.robots_rules" and s["end"]), "s"),
    })
    if crawl:
        urls = sorted(u for r in checked["reference"] for u, _ in r["visited"])[:PROBE_PAGES]
        us_page, us_url = harvest_probe(cache, urls)
    else:
        us_page = us_url = 0.0
    m["extract.us_per_page"] = (us_page, "us")
    m["kanon.us_per_url"] = (us_url, "us")
    for op in TEXTOPS:
        if crawl:
            wall = rec = bb = 0.0
        else:
            wall = mean_dur(f"textops.{op}")
            rec = _mean(checked["per_op"][t][op] for t in traces)
            bb = _mean(ev["tags"].get(f"p{t}:textops.{op}", {}).get("broadcast_bytes", 0.0)
                       for t in traces)
        m[f"textops.{op}.wall_s"] = (wall, "s")
        m[f"textops.{op}.recall"] = (rec, "ratio")
        m[f"textops.{op}.broadcast_bytes"] = (bb, "B")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a runner's SIGTERM unwinds through run_group, which kills the
    # measured process group before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "krawler_spark", "engine.py")):
        _fail(f"the krawler_spark package is not in {ROOT}; run from a full checkout")
    from crawlbench import inputs

    cache = os.path.join(ROOT, ".crawlbench")
    work = os.path.join(cache, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "polite_trickle":
        extra = ["--corpus", inputs.ensure_corpus(cache, ROOT, CORPUS_LIMIT_S)]
        # the run resumes its own copy of the cached base crawl
        shutil.copytree(inputs.base_warehouse(cache), os.path.join(work, "warehouse"))
    else:
        inputs.ensure_pairs(cache, args.seed)
        extra = ["--pairs", os.path.join(inputs.pairs_dir(cache, args.seed), "inputs.json")]
    raw = measure(args, cache, work, extra, MEASURE_LIMIT_S)

    checked = (check_trickle(raw, cache, args.seed, work)
               if args.workload == "polite_trickle" else check_pairs(raw, cache, args.seed))
    self_ok = all(checked["self_test"].values())
    phase_ops = [o for o in raw["ops"] if o["phase"] != "warmup"]
    metrics = (per_layer(raw, checked, work, cache) if args.trace
               else end_to_end(raw, checked))
    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(phase_ops), "provenance": provenance(raw, "timed"),
        "self_test": checked["self_test"], "problems": checked["problems"],
    }
    if args.trace:
        from crawlbench.spans import summarize

        # total and self time per span name over the traced ops
        traced = {s["trace"] for s in raw["spans"] if s["name"] in ("round", "pass")}
        meta["spans"] = summarize([s for s in raw["spans"] if s["trace"] in traced])
    with open(os.path.join(work, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    for d in ("warehouse", "after-warmup", "outputs", "eventlog"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": checked["failed"] == 0 and self_ok,
        "attempted": len(phase_ops),
        "failed": checked["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
