#!/usr/bin/env python3
"""Self-test of the benchmark harness. Run from the root of a checkout:

    python3 irbench/selftest.py

1. The checker accepts the expected answers and rejects deliberately
   perturbed ones: for top-k results a key swapped for a doc outside the
   top-k, a nudged score, a dropped row, a duplicated row and two swapped
   ranks; for the text/vector pipeline a lost duplicate group, an extra
   candidate pair, a flipped SimHash bit and a changed cosine score. The
   queries are the benchmark's own, over 1.5k seeded pages.
2. One short run of each workload, untraced and traced, prints every
   end-to-end, per-layer and workload metric with its unit and sample
   count, and a last line with exactly the contracted keys.

Part 2 starts Spark four times and takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from checks import PipelineOracle, TextOracle, check_topk  # noqa: E402
from workloads import K, pick_terms, pipeline_inputs, reference_queries  # noqa: E402

from iresearch_spark import corpus  # noqa: E402

WORKLOAD_METRICS = {
    "interactive": ("query_p50_ms", "query_p90_ms", "tasks_timed"),
    "batch": ("batch_qps", "plans_per_op"),
}
TRACED_WORKLOAD_METRICS = {
    "interactive": tuple(
        f"ingest.{m}" for m in ("build_docs_per_s", "append_docs_per_s", "delete_p50_ms",
                                "cold_query_ms", "consolidate_s", "index_bytes_per_text_byte")
    ),
    "batch": (),
}


def perturbations(got: list[tuple[str, float]], expected: dict, tol: float):
    """(label, perturbed top-k) pairs, each of which must be rejected."""
    out = []
    others = sorted((s, key) for key, s in expected.items() if key not in dict(got))
    outside = next((key for s, key in others if abs(s - got[-1][1]) > 10 * tol), None)
    if outside is not None:
        out.append(("key swapped for a doc outside the top-k", got[:-1] + [(outside, got[-1][1])]))
    out.append(("score nudged", got[:-1] + [(got[-1][0], got[-1][1] * (1 + 20 * tol) + 1e-3)]))
    out.append(("row dropped", got[:-1]))
    out.append(("row duplicated", got[:-1] + [got[0]]))
    if len(got) > 1 and abs(got[0][1] - got[-1][1]) > 10 * tol:
        out.append(("ranks swapped", [got[-1]] + got[1:-1] + [got[0]]))
    return out


def test_checker() -> None:
    rng = np.random.default_rng(7)
    ids = np.arange(1_500, dtype=np.uint64)
    docs = {
        f"https://example.org/{int(i):010d}": " ".join(corpus.rank_to_word(int(r)) for r in ranks)
        for i, ranks in zip(ids, corpus.token_ranks(ids, 7))
    }
    oracle = TextOracle(docs)
    queries = reference_queries(pick_terms(oracle, [oracle.idx.tokens[k] for k in oracle.idx.keys], rng))
    rejected = 0
    for name, q in queries.items():
        expected, tol = oracle.answer(q)
        got = sorted(expected.items(), key=lambda t: (-t[1], t[0]))[:K]
        assert check_topk(got, expected, K, tol) is None, f"{name}: the expected answer was rejected"
        if len(got) < 2:
            continue
        for label, bad in perturbations(got, expected, tol):
            assert check_topk(bad, expected, K, tol) is not None, f"{name}: {label} was accepted"
            rejected += 1
    oracle.close()

    docs_pdf, vecs = pipeline_inputs(rng)
    po = PipelineOracle(docs_pdf, vecs, 0, K)
    good = {
        "exact_duplicates": sorted(po.exact_dups),
        "minhash_lsh_pairs": sorted(po.lsh_pairs),
        "simhash64": sorted(po.simhash.items()),
        "cosine_topk": sorted(po.cosine.items(), key=lambda t: (-t[1], t[0]))[:K],
    }
    assert po.exact_dups and po.lsh_pairs, "the generated documents hold no duplicates"
    for op, got in good.items():
        assert po.check(op, got) is None, f"{op}: the expected answer was rejected"
    bad = {
        "exact_duplicates": good["exact_duplicates"][1:],
        "minhash_lsh_pairs": good["minhash_lsh_pairs"] + [(10**6, 10**6 + 1)],
        "simhash64": [(d, h ^ 1) if i == 0 else (d, h) for i, (d, h) in enumerate(good["simhash64"])],
        "cosine_topk": [(i, s - 0.01) if r == 3 else (i, s) for r, (i, s) in enumerate(good["cosine_topk"])],
    }
    for op, got in bad.items():
        assert po.check(op, got) is not None, f"{op}: a perturbed result was accepted"
        rejected += 1
    print(f"checker: {len(queries)} queries and 4 pipeline ops pass, {rejected} perturbed results rejected")


def test_harness(workload: str, trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = spec["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, sorted(result)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    declared = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m
    table = {}
    for line in lines[:-1]:
        hit = re.match(r"\s+(\S+)\s+(-?[\d.]+(?:e[-+]?\d+)?)\s+(\S+)\s+n=(\d+)$", line)
        if hit:
            table[hit[1]] = hit[3]
    named = spec["end_to_end"] + (spec["per_layer"] if trace else [])
    for m in named:
        assert table.get(m["name"]) == m["unit"], f"{workload}: {m['name']} not printed with its unit"
    extra = WORKLOAD_METRICS[workload] + ("ops_failed_frac",)
    extra += TRACED_WORKLOAD_METRICS[workload] if trace else ()
    for name in extra:
        assert name in table, f"{workload}: {name} not printed"
    print(f"harness: {workload} trace={trace} prints {len(table)} metrics with units and sample counts")


def main() -> int:
    test_checker()
    for workload in WORKLOAD_METRICS:
        for trace in (0, 1):
            test_harness(workload, trace)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
