"""The workloads ``interactive`` and ``batch``, and the write-side and
text-pipeline steps their traced runs add. Each workload is a closed loop:
one client thread in this process issues an op, waits for its result, checks
it against the expected answer and issues the next, until ``--seconds`` have
passed (at least one op always runs; an untraced ``interactive`` run ends on
a whole cycle of its tasks). Inputs come from ``--seed``; expected answers are
computed in set-up by ``checks.py`` and are not timed.

Sizes keep one run near 55 s on a 4-core box, Spark start-up included, so
that the 4 + 22 x 2 runs that accept the benchmark fit their time budget
(see NOTES.md).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, corpus
from iresearch_spark import filters as flt
from iresearch_spark import textops, vecops
from iresearch_spark.analysis.tokenizers import get_tokenizer
from iresearch_spark.index import codec
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs
from iresearch_spark.search import bm25, executor
from iresearch_spark.search.executor import PreparedBatch

from checks import PipelineOracle, TextOracle, check_topk
from spans import dur

K = 10

INTERACTIVE_PAGES = 2_000  # one segment per core
BATCH_PAGES = 4_000
BATCH_SEGMENTS = 16
BATCH_REPLICAS = 16  # 16 tasks x 16 = 256 plans per search_many
APPEND_PAGES = 250
DELETE_KEYS = 50
INGEST_CYCLES = 2
PIPELINE_DOCS = 2_000
PIPELINE_VECS = 2_000
PIPELINE_DIM = 64
PIPELINE_PASSES = 1
READER_WARMUPS = 3  # batch set-up opens this many readers; setup_s takes the median
SPLIT_PAIRS = 3  # traced batch runs also time search_many over one replica

KINDS = ("term", "bool", "phrase", "multi")
TABLES = ("docs", "postings", "norms", "term_dict")
BUILD_STAGES = ("segments", "postings", "term_dict")
CONSOLIDATE_STAGES = ("postings", "norms", "docs")


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------
# queries: plain tuples, turned into engine filters here and into expected
# answers by checks.TextOracle
# --------------------------------------------------------------------------


def to_filter(q: tuple) -> flt.Filter:
    kind = q[0]
    if kind == "term":
        return flt.Term(q[1])
    if kind == "and":
        return flt.And(tuple(flt.Term(w) for w in q[1]))
    if kind == "or":
        return flt.Or(tuple(flt.Term(w) for w in q[1]), min_match=q[2])
    if kind == "phrase":
        return flt.Phrase(tuple(q[1]))
    if kind == "and_phrase":
        return flt.And((flt.Phrase(tuple(q[1])), flt.Term(q[2])))
    if kind == "prefix":
        return flt.Prefix(q[1], scored_terms_limit=q[2])
    if kind == "wildcard":
        return flt.Wildcard(q[1])
    if kind == "fuzzy":
        return flt.Fuzzy(q[1], max_distance=q[2], max_terms=q[3])
    raise ValueError(kind)


def kind_of(q: tuple) -> str:
    return {
        "term": "term", "and": "bool", "or": "bool", "phrase": "phrase",
        "and_phrase": "phrase", "prefix": "multi", "wildcard": "multi", "fuzzy": "multi",
    }[q[0]]


def pick_terms(oracle: TextOracle, doc_tokens, rng) -> dict:
    """Query terms pinned by document frequency (luceneutil-style), with the
    seed choosing among the terms nearest each target df."""
    n = oracle.n
    by_df = sorted(oracle.df.items(), key=lambda t: (-t[1], t[0]))

    def near(target: int, pool: int, take: int, exclude: set) -> list[str]:
        cands = sorted(
            (t for t in by_df if t[0] not in exclude), key=lambda t: (abs(t[1] - target), t[0])
        )[:pool]
        picked = rng.choice(len(cands), size=take, replace=False)
        return [cands[i][0] for i in sorted(picked)]

    highs = [by_df[i][0] for i in sorted(rng.choice(16, size=8, replace=False))]
    used = set(highs)
    meds = near(max(1, n // 10), 12, 6, used)
    used |= set(meds)
    lows = near(max(1, n // 500), 8, 4, used)

    hi_cut, lo_cut = n // 3, max(1, n // 50)
    df = oracle.df

    def pair(pred) -> tuple[str, str]:
        for d in rng.permutation(len(doc_tokens)):
            words = doc_tokens[d]
            for i in range(len(words) - 1):
                if pred(df[words[i]], df[words[i + 1]]):
                    return (words[i], words[i + 1])
        raise RuntimeError("no token pair meets the phrase df criteria")

    return {
        "high": highs,
        "med": meds,
        "low": lows,
        "phrase_high": pair(lambda a, b: a >= hi_cut and b >= hi_cut),
        "phrase_med": pair(lambda a, b: lo_cut < a < hi_cut and lo_cut < b < hi_cut),
        "phrase_low": pair(lambda a, b: 0 < a <= lo_cut or 0 < b <= lo_cut),
        "wildcard": f"w00{rng.integers(10)}_{rng.integers(10)}",
    }


def reference_queries(t: dict) -> dict[str, tuple]:
    """The reference benchmark's task categories (scripts/iresearch-benchmark
    .tasks, as in bench.py) plus one nested And(Phrase, Term), in an order
    that interleaves the four kinds so that a short run still covers each."""
    hi, md, lo = t["high"], t["med"], t["low"]
    q = {
        "HighTerm": ("term", hi[0]),
        "AndHighHigh": ("and", (hi[0], hi[1])),
        "HighPhrase": ("phrase", t["phrase_high"]),
        "Prefix3": ("prefix", hi[0][:3], 16),
        "MedTerm": ("term", md[0]),
        "OrHighHigh": ("or", (hi[0], hi[1]), 1),
        "MedPhrase": ("phrase", t["phrase_med"]),
        "Wildcard": ("wildcard", t["wildcard"]),
        "LowTerm": ("term", lo[0]),
        "AndHighMed": ("and", (hi[2], md[1])),
        "LowPhrase": ("phrase", t["phrase_low"]),
        "Fuzzy1": ("fuzzy", md[0], 1, 50),
        "OrHighMed": ("or", (hi[2], md[2]), 1),
        "AndPhraseTerm": ("and_phrase", t["phrase_med"], hi[0]),
        "Fuzzy2": ("fuzzy", md[1], 2, 50),
        "AndHighLow": ("and", (hi[3], lo[1])),
        "OrHighLow": ("or", (hi[3], lo[2]), 1),
        "Or4High": ("or", tuple(hi[:4]), 1),
        "Or6High4Med2Low": ("or", tuple(hi[:6] + md[:4] + lo[:2]), 1),
        "MinMatch2High2Med": ("or", tuple(hi[4:6] + md[3:5]), 2),
    }
    return q


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def write_pages(run, name: str, lo: int, hi: int) -> str:
    """Pages ``lo..hi-1`` of the seeded ``corpus`` generator (the text that
    ``corpus.synth_pages`` produces for those ids), written once to parquet
    from this process so that input generation runs no Spark job."""
    ids = np.arange(lo, hi, dtype=np.uint64)
    texts = [" ".join(corpus.rank_to_word(int(r)) for r in ranks) for ranks in corpus.token_ranks(ids, run.seed)]
    path = os.path.join(run.work, name)
    os.makedirs(path)
    pq.write_table(pa.table({"url": [page_url(int(i)) for i in ids], "text": texts, "lang": ["en"] * len(texts)}),
                   os.path.join(path, "part-0.parquet"))
    return path


def page_url(i: int) -> str:
    return f"https://example.org/{i:010d}"


def read_texts(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["url", "text"]).to_pandas()


def text_setup(run, n_pages: int):
    """Pages, the oracle over them, and the seeded queries with answers."""
    path = write_pages(run, "pages", 0, n_pages)
    texts = read_texts(path)
    oracle = TextOracle(dict(zip(texts["url"], texts["text"])))
    tokens = [oracle.idx.tokens[k] for k in oracle.idx.keys]
    queries = reference_queries(pick_terms(oracle, tokens, run.rng))
    answers = {name: oracle.answer(q) for name, q in queries.items()}
    oracle.close()
    return path, queries, answers


def build_index(run, pages_path: str, index_name: str, n_segments: int) -> str:
    path = os.path.join(run.work, index_name)
    IndexBuilder(run.spark, path, analyzer="simple", num_segments=n_segments).build(
        run.spark.read.parquet(pages_path), key_col="url", text_col="text"
    )
    return path


def warm_readers(run, index_path: str, queries: list[flt.Filter]):
    """Open a fresh reader per query and run that query keyed: the set-up a
    new reader pays. Returns the last searcher and each warm-up's seconds.
    Traced runs also time a second query per reader."""
    times, firsts, seconds, opens = [], [], [], []
    for i, query in enumerate(queries):
        t0 = now()
        searcher = Searcher(IndexReader(run.spark, index_path))
        t1 = now()
        searcher.search(query, k=K, with_keys=True).collect()
        t2 = now()
        times.append(t2 - t0)
        opens.append(t1 - t0)
        firsts.append(t2 - t1)
        if run.tracer.enabled:
            searcher.search(query, k=K, with_keys=True).collect()
            seconds.append(now() - t2)
        if i < len(queries) - 1:
            searcher.unpersist()
    if run.tracer.enabled:
        run.layer("reader.open_ms", median(opens) * 1e3, len(opens))
        run.layer(
            "reader.first_minus_second_query_ms",
            median(a - b for a, b in zip(firsts, seconds)) * 1e3, len(seconds),
        )
        t0 = now()
        IndexReader(run.spark, index_path).fuzzy_vocab_sorted()
        run.layer("reader.vocab_load_ms", (now() - t0) * 1e3, 1)
    return searcher, times


def floor_ms(run, n_tasks: int) -> None:
    """A bare job with one shuffle and ``n_tasks`` map tasks: box state."""
    if not run.tracer.enabled:
        return
    times = []
    for _ in range(5):
        t0 = now()
        run.spark.range(0, 1000, 1, n_tasks).groupBy(F.col("id") % n_tasks).count().collect()
        times.append(now() - t0)
    run.layer("spark.floor_ms", median(times) * 1e3, len(times))


def keyed_rows(rows) -> list[tuple[str, float]]:
    return [(r["doc_key"], float(r["score"])) for r in rows]


# --------------------------------------------------------------------------
# interactive
# --------------------------------------------------------------------------


def interactive(run) -> None:
    with run.excluded():
        pages, queries, answers = text_setup(run, INTERACTIVE_PAGES)
    names = list(queries)
    filters = {name: to_filter(q) for name, q in queries.items()}
    with run.setup("build"):
        index = build_index(run, pages, "index", run.cores)
    # one fresh reader per query kind: each kind's plan shape has its own
    # one-off compile and worker costs, which a serving system has paid.
    # Each kind's warm-up is distinct work, so setup_s takes their sum.
    first_of_kind = [filters[next(n for n in names if kind_of(queries[n]) == kind)] for kind in KINDS]
    searcher, warm_s = warm_readers(run, index, first_of_kind[::-1])
    run.setup_time("reader_warmup", sum(warm_s))
    floor_ms(run, run.cores)

    tr = run.tracer
    tr.wrap(executor, "compile_plan", "executor.compile_plan")
    tr.wrap(executor, "expand_multiterm", "executor.expand_multiterm", size_of=lambda r: len(r[0]))

    def op(name: str, keyed: bool, traced: bool):
        """(rows, wall seconds, span); rows is None if the op raised, which
        counts as a failed op."""
        tr.enabled = traced
        tr.op_id = f"{name}/{'keyed' if keyed else 'unkeyed'}/{len(tr.spans)}"
        gid = run.groups.start(name) if traced else None
        t0 = now()
        try:
            with tr.span("op", task=name, kind=kind_of(queries[name]), keyed=keyed) as rec:
                with tr.span("executor.search"):
                    df = searcher.search(filters[name], k=K, with_keys=keyed)
                with tr.span("spark.action"):
                    rows = df.collect()
        except Exception:
            rows = None
            run.raised(name)
        wall = now() - t0
        if traced:
            rec.update(run.groups.counts(gid))
        tr.enabled = run.trace
        return rows, wall, rec

    def checked(name: str, traced: bool):
        rows, wall, rec = op(name, keyed=True, traced=traced)
        if rows is not None:
            run.check(name, check_topk(keyed_rows(rows), answers[name][0], K, answers[name][1]))
        return rows is not None, wall, rec

    lat, traced_lat, pairs = [], [], []
    run.start_measuring()
    deadline = now() + run.seconds
    i = 0
    while True:
        name = names[i % len(names)]
        # traced runs issue each task untraced and traced, alternating which
        # goes first, then unkeyed (traced) for the key-attach pair
        keyed_rec = None
        for traced in ((False, True) if i % 2 == 0 else (True, False)) if run.trace else (False,):
            ok, wall, rec = checked(name, traced)
            (traced_lat if traced else lat).append(wall)
            if traced and ok:
                keyed_rec = rec
        if run.trace:
            unkeyed_rows, _, unkeyed_rec = op(name, keyed=False, traced=True)
            if keyed_rec is not None and unkeyed_rows is not None:
                pairs.append((keyed_rec, unkeyed_rec))
        i += 1
        if now() < deadline:
            continue
        # an untraced run times and checks whole cycles, so every seed
        # samples the same task mix whatever the box's speed; a traced run
        # (three ops per task) goes on until it has traced every query kind
        if run.trace:
            if {kind_of(queries[n]) for n in names[:i]} == set(KINDS):
                break
        elif i % len(names) == 0:
            break

    run.op_latency(lat, ops_per_s=len(lat) / sum(lat))
    run.detail("query_p50_ms", median(lat) * 1e3, "ms", len(lat))
    run.detail("query_p90_ms", float(np.percentile(lat, 90)) * 1e3, "ms", len(lat))
    run.detail("tasks_timed", min(i, len(names)), "count", len(lat))
    if run.trace:
        interactive_layers(run, pairs, traced_lat, lat)
        guarded(run, "ingest", ingest_layers, run, pages)


def guarded(run, step: str, fn, *args) -> None:
    """A traced run's extra steps: one that raises is a failed op, and the
    run still reports what it measured."""
    try:
        fn(*args)
    except Exception:
        run.raised(step)


def interactive_layers(run, pairs, traced_lat, lat) -> None:
    tr = run.tracer
    per_kind: dict[str, list[dict]] = {k: [] for k in KINDS}
    for keyed, unkeyed in pairs:
        search = tr.children(keyed, "executor.search")[0]
        action = tr.children(keyed, "spark.action")[0]
        compile_ms = sum(dur(s) for s in tr.descendants(search, "executor.compile_plan"))
        expand = sum(s.get("size", 0) for s in tr.descendants(search, "executor.expand_multiterm"))
        per_kind[keyed["kind"]].append({
            "compile": compile_ms,
            "df_build": dur(search) - compile_ms,
            "action": dur(action),
            "py4j_df": search["py4j"],
            "py4j_action": action["py4j"],
            "expand": expand,
            "jobs": keyed["jobs"], "stages": keyed["stages"], "tasks": keyed["tasks"],
        })
        run.tasks_failed += keyed["tasks_failed"] + unkeyed["tasks_failed"]
    for kind, recs in per_kind.items():
        if not recs:
            continue
        n = len(recs)
        run.layer(f"executor.compile_ms.{kind}", median(r["compile"] for r in recs), n)
        run.layer(f"executor.df_build_ms.{kind}", median(r["df_build"] for r in recs), n)
        run.layer(f"spark.action_ms.{kind}", median(r["action"] for r in recs), n)
        run.layer(f"py4j.calls_df_build.{kind}", median(r["py4j_df"] for r in recs), n)
        run.layer(f"py4j.calls_action.{kind}", median(r["py4j_action"] for r in recs), n)
        for c in ("jobs", "stages", "tasks"):
            run.layer(f"spark.{c}.{kind}", median(r[c] for r in recs), n)
        if kind == "multi":
            run.layer("executor.expand_terms.multi", median(r["expand"] for r in recs), n)
    run.layer("executor.key_attach_ms", median(dur(a) - dur(b) for a, b in pairs), len(pairs))
    for c in ("jobs", "stages", "tasks"):
        run.layer(f"spark.{c}.key_attach", median(a[c] - b[c] for a, b in pairs), len(pairs))
    coverage(run)
    run.overhead(lat, traced_lat)


# --------------------------------------------------------------------------
# batch
# --------------------------------------------------------------------------


def batch(run) -> None:
    with run.excluded():
        pages, queries, answers = text_setup(run, BATCH_PAGES)
    base = {n: q for n, q in queries.items() if kind_of(q) != "phrase"}
    plans = {f"{n}#{r}": to_filter(q) for r in range(BATCH_REPLICAS) for n, q in base.items()}
    with run.setup("build"):
        index = build_index(run, pages, "index", BATCH_SEGMENTS)
    # the same warm-up repeated: setup_s takes its median
    searcher, warm_s = warm_readers(run, index, [plans[next(iter(plans))]] * READER_WARMUPS)
    reader = searcher.reader
    with run.excluded():
        keys = {
            (int(r["segment_id"]), int(r["doc_id"])): r["doc_key"]
            for r in reader.docs().select("segment_id", "doc_id", "doc_key").collect()
        }
    # one untimed search_many: its first execute pays one-off plan and
    # worker costs that every later op reuses
    with run.setup("batch_warmup"):
        searcher.search_many(plans, k=K).collect()
    run.setup_time("reader_warmup", median(warm_s))
    floor_ms(run, BATCH_SEGMENTS)

    tr = run.tracer
    # search_many is prepare(...).execute(k): traced runs time each half
    tr.wrap(Searcher, "prepare", "executor.prepare")
    tr.wrap(PreparedBatch, "execute", "executor.execute")

    def op(batch_plans: dict, traced: bool):
        """(rows, wall seconds, span); rows is None if the op raised, which
        counts as a failed op."""
        tr.enabled = traced
        tr.op_id = f"batch/{len(tr.spans)}"
        gid = run.groups.start("batch") if traced else None
        t0 = now()
        try:
            with tr.span("op") as rec:
                with tr.span("executor.search_many"):
                    df = searcher.search_many(batch_plans, k=K)
                with tr.span("spark.action"):
                    rows = df.collect()
        except Exception:
            rows = None
            run.raised("search_many")
        wall = now() - t0
        if traced:
            rec.update(run.groups.counts(gid))
        tr.enabled = run.trace
        if rows is not None:
            run.check("search_many", check(batch_plans, rows))
        return rows, wall, rec

    def check(batch_plans: dict, rows) -> str | None:
        got: dict[str, list] = {name: [] for name in batch_plans}
        for r in rows:
            got[r["query"]].append((keys[(int(r["segment_id"]), int(r["doc_id"]))], float(r["score"])))
        bad = []
        for name, res in got.items():
            exp, tol = answers[name.split("#")[0]]
            why = check_topk(res, exp, K, tol)
            if why:
                bad.append(f"{name}: {why}")
        return f"{len(bad)} plans wrong, first {bad[0]}" if bad else None

    lat, traced_lat, recs = [], [], []
    run.start_measuring()
    deadline = now() + run.seconds
    while True:
        # traced runs alternate which of the untraced and traced op goes first
        for traced in ((False, True) if len(lat) % 2 == 0 else (True, False)) if run.trace else (False,):
            rows, wall, rec = op(plans, traced=traced)
            (traced_lat if traced else lat).append(wall)
            if traced and rows is not None:
                recs.append(rec)
        if now() >= deadline:
            break

    run.op_latency(lat, ops_per_s=len(plans) * len(lat) / sum(lat))
    run.detail("batch_qps", len(plans) * len(lat) / sum(lat), "1/s", len(lat))
    run.detail("plans_per_op", len(plans), "count", 1)
    if run.trace:
        n = len(recs)
        # execute() runs the kernel job and merges the top-k; collect() only
        # hands over the merged rows
        for span, layer in (("executor.prepare", "executor.compile_ms.batch"),
                            ("executor.execute", "executor.execute_ms.batch")):
            run.layer(layer, median(sum(dur(s) for s in tr.descendants(r, span)) for r in recs), n)
        run.layer("spark.action_ms.batch", median(dur(tr.children(r, "spark.action")[0]) for r in recs), n)
        run.layer("py4j.calls_execute.batch",
                  median(tr.children(r, "executor.search_many")[0]["py4j"] for r in recs), n)
        run.layer("py4j.calls_action.batch", median(tr.children(r, "spark.action")[0]["py4j"] for r in recs), n)
        for c in ("jobs", "stages", "tasks"):
            run.layer(f"spark.{c}.batch", median(r[c] for r in recs), n)
        run.tasks_failed += sum(r["tasks_failed"] for r in recs)
        coverage(run)
        run.overhead(lat, traced_lat)
        guarded(run, "batch_split", batch_split, run, plans, op)
        guarded(run, "kernel", kernel_layers, run, reader, base)
        guarded(run, "pipeline", pipeline_layers, run)


def batch_split(run, plans: dict, op) -> None:
    """How the op's time splits into a fixed part and a part that grows with
    the number of plans: untraced ``search_many`` over one replica of the
    tasks and over all the replicas, in ``SPLIT_PAIRS`` alternating pairs.
    The per-plan cost is the slope between the two."""
    small = {name: f for name, f in plans.items() if name.endswith("#0")}
    t_small, t_all = [], []
    for _ in range(SPLIT_PAIRS):
        t_small.append(op(small, traced=False)[1] * 1e3)
        t_all.append(op(plans, traced=False)[1] * 1e3)
    lo, hi = median(t_small), median(t_all)
    per_plan = (hi - lo) / (len(plans) - len(small))
    run.layer("batch.per_plan_ms", per_plan, SPLIT_PAIRS)
    run.layer("batch.fixed_ms", lo - per_plan * len(small), SPLIT_PAIRS)
    run.layer("batch.per_plan_share", per_plan * len(plans) / hi, SPLIT_PAIRS)


def kernel_layers(run, reader: IndexReader, base: dict) -> None:
    """Kernel inputs and building blocks, timed in this process on the
    postings the batch reads for its explicit terms."""
    terms = sorted({w for q in base.values() if q[0] in ("term", "and", "or")
                    for w in ((q[1],) if q[0] == "term" else q[1])})
    post = reader.postings_for_terms(terms).toPandas()
    nbytes = int(sum(len(b) for c in ("doc_ids_enc", "freqs_enc") for b in post[c]))
    run.layer("reader.postings_rows.batch", len(post), 1)
    run.layer("reader.postings_bytes.batch", nbytes, 1)
    t0 = now()
    decoded = [
        (codec.decode_doc_ids(r.doc_ids_enc, r.block_doc_off, r.block_last_doc),
         codec.decode_freqs(r.freqs_enc, r.block_freq_off))
        for r in post.itertuples()
    ]
    decode_s = now() - t0
    n_post = sum(len(ids) for ids, _ in decoded)
    avgdl = reader.field_stats()["avgdl"]
    rng = np.random.default_rng(run.seed)
    dls = [rng.integers(60, 400, size=len(ids)) for ids, _ in decoded]
    t0 = now()
    for (_, tfs), dl in zip(decoded, dls):
        bm25.bm25_score(tfs, dl, 1.0, avgdl)
    score_s = now() - t0
    run.layer("codec.decode_ns_per_posting", decode_s / n_post * 1e9, n_post)
    run.layer("bm25.score_ns_per_posting", score_s / n_post * 1e9, n_post)


# --------------------------------------------------------------------------
# write side (traced interactive runs)
# --------------------------------------------------------------------------


def ingest_layers(run, pages: str) -> None:
    """Write-side layers on a second index over the interactive pages: a
    timed build (warm, since the set-up build ran first), ``INGEST_CYCLES``
    cycles of append, deletes, reader reopen and a cold keyed query, then a
    consolidate. Every step is checked: live-doc counts, and no deleted key
    among the live docs or in a result."""
    spark, tr = run.spark, run.tracer
    main_lo, main_hi = 0, INTERACTIVE_PAGES
    # appended page ids start at a seeded offset past the main corpus
    append_lo = main_hi + int(run.rng.integers(1_000))
    with run.excluded():
        batches = [
            write_pages(run, f"append_{c}", append_lo + c * APPEND_PAGES, append_lo + (c + 1) * APPEND_PAGES)
            for c in range(INGEST_CYCLES)
        ]
        texts = read_texts(pages)
        text_bytes = int(texts["text"].str.len().sum())
    probe = flt.Term(corpus.rank_to_word(int(run.rng.integers(4))))

    tr.op_id = "ingest/build"
    with tr.span("builder.build") as rec:
        index = build_index(run, pages, "ingest_index", run.cores)
    build_s = dur(rec) / 1e3
    storage = table_bytes(index)
    reader = IndexReader(spark, index)
    live = {page_url(i) for i in range(main_lo, main_hi)}
    deleted: set[str] = set()
    last_top: list[str] = []
    appends, deletes, opens, colds, second = [], [], [], [], []
    for c in range(INGEST_CYCLES):
        tr.op_id = f"ingest/cycle/{c}"
        # the previous cycle's top hits plus seeded live keys, all visible to
        # the reader opened before this cycle's append
        pool = sorted(live)
        victims = [k for k in last_top if k in live]
        victims += [pool[i] for i in run.rng.choice(len(pool), size=DELETE_KEYS, replace=False)]
        victims = list(dict.fromkeys(victims))[:DELETE_KEYS]
        with tr.span("op"):
            with tr.span("builder.append") as a:
                IndexBuilder(spark, index, analyzer="simple").append(
                    spark.read.parquet(batches[c]), key_col="url", text_col="text"
                )
            with tr.span("index.delete_docs") as d:
                delete_docs(reader, victims)
            with tr.span("index.reader_open") as o:
                reader = IndexReader(spark, index)
                searcher = Searcher(reader)
            with tr.span("executor.cold_query") as q:
                rows = searcher.search(probe, k=K, with_keys=True).collect()
        appends.append(dur(a) / 1e3)
        deletes.append(dur(d))
        opens.append(dur(o))
        colds.append(dur(q))
        live |= {page_url(i) for i in range(append_lo + c * APPEND_PAGES, append_lo + (c + 1) * APPEND_PAGES)}
        live -= set(victims)
        deleted |= set(victims)
        top = [r["doc_key"] for r in rows]
        gone = deleted & set(top)
        run.check("cold_query", None if len(top) == K and not gone else f"{len(top)} rows, {len(gone)} deleted keys")
        run.check("append+delete", live_docs_problem(reader, live, victims))
        last_top = top
        t0 = now()
        searcher.search(probe, k=K, with_keys=True).collect()
        second.append((now() - t0) * 1e3)
        searcher.unpersist()
    tr.op_id = "ingest/consolidate"
    with tr.span("index.consolidate") as rec:
        consolidate(reader)
    run.check("consolidate", live_docs_problem(IndexReader(spark, index), live, sorted(deleted)))

    metrics = {
        "build_docs_per_s": (INTERACTIVE_PAGES / build_s, "1/s", 1),
        "append_docs_per_s": (APPEND_PAGES * len(appends) / sum(appends), "1/s", len(appends)),
        "delete_p50_ms": (median(deletes), "ms", len(deletes)),
        "cold_query_ms": (median(colds), "ms", len(colds)),
        "consolidate_s": (dur(rec) / 1e3, "s", 1),
        "index_bytes_per_text_byte": (sum(b for b, _ in storage.values()) / text_bytes, "ratio", 1),
    }
    for name, (v, _unit, n) in metrics.items():
        run.layer(f"ingest.{name}", v, n)
    run.layer("reader.cold_open_ms", median(opens), len(opens))
    run.layer("reader.cold_first_minus_second_query_ms", median(a - b for a, b in zip(colds, second)), len(second))
    for table, (nbytes, nfiles) in storage.items():
        run.layer(f"storage.bytes_per_text_byte.{table}", nbytes / text_bytes, 1)
        run.layer(f"storage.files.{table}", nfiles, 1)
    manifest_layers(run, index)
    tokenize_layer(run, texts)


def coverage(run) -> None:
    """Smallest share of a traced op's wall time covered by its child spans."""
    tr = run.tracer
    ops = [(i, r) for i, r in enumerate(tr.spans) if r["name"] == "op"]
    if ops:
        run.layer("trace.coverage", min(
            sum(dur(ch) for ch in tr.spans if ch["parent"] == i) / dur(r) for i, r in ops
        ), len(ops))


def live_docs_problem(reader: IndexReader, live: set, victims) -> str | None:
    """Expected live-doc count, and none of ``victims`` among the live docs."""
    row = reader.live_docs().select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("doc_key").isin(list(victims)).cast("int")).alias("dead"),
    ).first()
    if row["n"] != len(live) or (row["dead"] or 0) != 0:
        return f"{row['n']} live docs (expected {len(live)}), {row['dead']} deleted keys live"
    return None


def table_bytes(index: str) -> dict[str, tuple[int, int]]:
    """table → (bytes, data files) of the committed generation."""
    with open(os.path.join(index, "meta.json")) as fh:
        meta = json.load(fh)
    out = {}
    for table in TABLES:
        paths = meta["tables"][table]
        paths = paths if isinstance(paths, list) else [paths]
        nbytes = nfiles = 0
        for p in paths:
            for root, _dirs, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet"):
                        nbytes += os.path.getsize(os.path.join(root, f))
                        nfiles += 1
        out[table] = (nbytes, nfiles)
    return out


def manifest_layers(run, index: str) -> None:
    """Builder and consolidate stage seconds from ``manifest.jsonl``: the
    first generation is the build, later ones appends or the consolidate."""
    rows = [json.loads(line) for line in open(os.path.join(index, "manifest.jsonl"))]
    first = min(r["generation"] for r in rows)
    for stage in BUILD_STAGES:
        build = [r["seconds"] for r in rows if r["stage"] == stage and r["generation"] == first]
        append = [r["seconds"] for r in rows if r["stage"] == stage and r["generation"] != first]
        run.layer(f"builder.stage_s.{stage}.build", sum(build), len(build))
        run.layer(f"builder.stage_s.{stage}.append", median(append), len(append))
    for stage in CONSOLIDATE_STAGES:
        xs = [r["seconds"] for r in rows if r["stage"] == f"consolidate_{stage}"]
        run.layer(f"consolidate.stage_s.{stage}", sum(xs), len(xs))


def tokenize_layer(run, texts: pd.DataFrame) -> None:
    sample = texts["text"].iloc[:500]
    nbytes = int(sample.str.len().sum())
    tok = get_tokenizer("simple")
    reps = 5
    t0 = now()
    for _ in range(reps):
        tok(sample)
    run.layer("analysis.tokenize_mb_per_s", reps * nbytes / 1e6 / (now() - t0), reps)


# --------------------------------------------------------------------------
# text and vector pipeline ops (traced batch runs)
# --------------------------------------------------------------------------


def pipeline_inputs(rng) -> tuple[pd.DataFrame, np.ndarray]:
    """Documents with planted exact duplicates (half differing only in case
    or spacing, which the dedup normalisation removes) and clustered
    embedding vectors."""
    vocab = np.array([f"t{i:04d}" for i in range(3_000)])
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    lens = rng.integers(20, 120, size=PIPELINE_DOCS)
    texts = [" ".join(rng.choice(vocab, size=n, p=p)) for n in lens]
    copies = rng.choice(PIPELINE_DOCS, size=PIPELINE_DOCS // 20, replace=False)
    for j, dst in enumerate(copies):
        src = int(rng.integers(PIPELINE_DOCS))
        if src != dst:
            texts[dst] = texts[src].upper() if j % 2 else texts[src].replace(" ", "  ")
    docs = pd.DataFrame({
        "doc_id": np.arange(PIPELINE_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], size=PIPELINE_DOCS),
    })
    centers = rng.normal(size=(20, PIPELINE_DIM))
    vecs = centers[rng.integers(20, size=PIPELINE_VECS)] + 0.3 * rng.normal(size=(PIPELINE_VECS, PIPELINE_DIM))
    return docs, vecs


def pipeline_layers(run) -> None:
    """``textops``/``vecops``: exact dedup, MinHash-LSH, SimHash and cosine
    top-k over seeded documents and vectors, each result checked; the
    per-op medians of ``PIPELINE_PASSES`` passes after one warm-up pass."""
    spark = run.spark
    with run.excluded():
        docs_pdf, vecs = pipeline_inputs(run.rng)
        query_id = int(run.rng.integers(PIPELINE_VECS))
        docs_path = os.path.join(run.work, "documents.parquet")
        emb_path = os.path.join(run.work, "embeddings.parquet")
        pq.write_table(pa.Table.from_pandas(docs_pdf, preserve_index=False), docs_path)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(PIPELINE_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
        }), emb_path)
        oracle = PipelineOracle(docs_pdf, vecs, query_id, K)
    qv = [float(x) for x in vecs[query_id]]
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    ops = {
        "exact_duplicates": lambda: [
            (r["fp"], int(r["dup_count"]), int(r["keep_id"])) for r in textops.exact_duplicates(docs).collect()
        ],
        "minhash_lsh_pairs": lambda: [
            (int(r["a"]), int(r["b"]))
            for r in textops.minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket=64).collect()
        ],
        "simhash64": lambda: list(textops.simhash64(docs).toPandas().itertuples(index=False, name=None)),
        "cosine_topk": lambda: [
            (int(r["vec_id"]), float(r["cos_sim"])) for r in vecops.cosine_topk(emb, qv, k=K).collect()
        ],
    }
    times: dict[str, list[float]] = {name: [] for name in ops}
    for p in range(PIPELINE_PASSES + 1):
        for name, fn in ops.items():
            t0 = now()
            got = fn()
            if p:
                times[name].append(now() - t0)
            run.check(name, oracle.check(name, got))
    for name, xs in times.items():
        layer = "vecops" if name == "cosine_topk" else "textops"
        run.layer(f"{layer}.{name}_ms", median(xs) * 1e3, len(xs))


WORKLOADS = {"interactive": interactive, "batch": batch}
