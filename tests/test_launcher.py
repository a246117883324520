"""The per-segment query launcher: one shuffle-free task per LIVE segment,
reading its own postings / norms / deletes / doc keys with pyarrow.

Pins the launcher's contract: tasks follow ``meta["segment_ids"]`` (not the
requested segment count), plans carry no Exchange, keys attached in-task
equal a join against ``docs()``, and every commit kind (delete, append,
consolidate) leaves the launcher reading the right files.
"""

from __future__ import annotations

import itertools
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher
from iresearch_spark import filters as flt
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs

WORDS = ["spark", "index", "scan", "merge", "rank", "query", "fast", "dup"]
_group = itertools.count()


def _rows(n: int, offset: int = 0):
    return [
        (f"{i:04d}", " ".join(WORDS[(i * 3 + j) % len(WORDS)] for j in range(1 + i % 6)))
        for i in range(offset, offset + n)
    ]


def _build(spark, path, rows, num_segments):
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=num_segments).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def _job_counts(spark, action):
    """(jobs, tasks) the ``action`` ran, from the status tracker."""
    sc = spark.sparkContext
    gid = f"launcher-test-{next(_group)}"
    sc.setJobGroup(gid, gid)
    try:
        action()
    finally:
        sc.setJobGroup("launcher-test-idle", "idle")
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    tasks = 0
    for jid in jobs:
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
    return len(jobs), tasks


def _keyed(rows):
    return [(r["doc_key"], round(r["score"], 9)) for r in rows]


@pytest.fixture(scope="module")
def seg_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("launch3")), _rows(150), 3)


def _norm_ids(reader):
    return sorted({r["segment_id"] for r in reader.norms().select("segment_id").collect()})


def test_meta_segment_ids_follow_built_segments(spark, tmp_path):
    """One input row group → one segment on the footer fast path, whatever
    ``num_segments`` asks; meta lists exactly the built ids and a search
    launches exactly that many tasks."""
    src = str(tmp_path / "pages.parquet")
    keys, texts = zip(*_rows(80))
    pq.write_table(pa.table({"doc_key": list(keys), "text": list(texts)}), src)
    path = str(tmp_path / "idx")
    IndexBuilder(spark, path, analyzer="simple", num_segments=4).build(
        spark.read.parquet(src), key_col="doc_key", text_col="text"
    )
    reader = IndexReader(spark, path)
    assert reader.meta["num_segments"] == 4
    assert reader.meta["segment_ids"] == _norm_ids(reader) == [0]
    s = Searcher(reader)
    s.search(flt.Term("scan"), k=5).collect()  # warm: first use lists files
    jobs, tasks = _job_counts(spark, lambda: s.search(flt.Term("scan"), k=5).collect())
    assert (jobs, tasks) == (1, 1)


def test_one_task_per_live_segment(spark, seg_index):
    ids = seg_index.meta["segment_ids"]
    assert ids == _norm_ids(seg_index) and len(ids) == 3
    s = Searcher(seg_index)
    q = flt.Or((flt.Term("scan"), flt.Term("dup")))
    s.search(q, k=5).collect()  # warm: the reader's vocab + field stats load once
    assert _job_counts(spark, lambda: s.search(q, k=5).collect()) == (1, len(ids))
    assert _job_counts(spark, lambda: s.matches(q).collect()) == (1, len(ids))
    batch = {"a": q, "b": flt.Term("rank")}
    assert _job_counts(spark, lambda: s.search_many(batch, k=5).collect())[1] == len(ids)


def test_launcher_plans_have_no_exchange(spark, seg_index):
    s = Searcher(seg_index)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for q in (flt.Term("scan"), flt.And((flt.Phrase(("scan", "merge")), flt.Term("dup")))):
        assert "Exchange" not in plan(s.search(q, k=5)), plan(s.search(q, k=5))
    prepared = s.prepare({"a": flt.Term("scan"), "b": flt.Prefix("s")})
    b_plans = spark.sparkContext.broadcast(list(prepared.plans.items()))
    kernel_stage = s._batch_local(prepared.plans, prepared.scan, 5, "float64", b_plans)
    assert "Exchange" not in plan(kernel_stage), plan(kernel_stage)
    assert "Exchange" not in plan(s.search_many({"a": flt.Term("scan")}, k=5))


@pytest.mark.parametrize(
    "q",
    [
        flt.Term("scan"),
        flt.Or((flt.Term("dup"), flt.Term("rank")), min_match=1),
        flt.Phrase(("scan", "merge")),
        flt.Prefix("s"),
    ],
    ids=["term", "or", "phrase", "prefix"],
)
def test_keyed_rows_equal_unkeyed_joined_to_docs(spark, seg_index, q):
    s = Searcher(seg_index)
    keyed = [tuple(r) for r in s.search(q, k=12).collect()]
    unkeyed = s.search(q, k=12, with_keys=False)
    joined = (
        unkeyed.join(seg_index.docs().select("segment_id", "doc_id", "doc_key"), ["segment_id", "doc_id"])
        .select("doc_key", "segment_id", "doc_id", "score")
        .orderBy(F.desc("score"), "segment_id", "doc_id")
    )
    assert keyed and keyed == [tuple(r) for r in joined.collect()]


def test_deleted_key_absent_after_reopen(spark, tmp_path):
    reader = _build(spark, str(tmp_path / "del"), _rows(90), 3)
    before = Searcher(reader).search(flt.Term("scan"), k=20).collect()
    victim = before[0]["doc_key"]
    meta = delete_docs(reader, [victim])
    assert meta["segment_ids"] == reader.meta["segment_ids"]  # carried forward
    after = Searcher(IndexReader(spark, reader.index_path)).search(flt.Term("scan"), k=20).collect()
    keys = [r["doc_key"] for r in after]
    assert victim not in keys
    # stats stay unchanged until consolidation: survivors keep their scores
    assert _keyed(after)[:5] == [t for t in _keyed(before) if t[0] != victim][:5]


def test_launcher_reads_appended_generation(spark, tmp_path):
    rows_a, rows_b = _rows(70), _rows(50, offset=70)
    path = str(tmp_path / "app")
    reader = _build(spark, path, rows_a, 2)
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).append(
        spark.createDataFrame(rows_b, "doc_key string, text string")
    )
    appended = IndexReader(spark, path)
    assert appended.meta["segment_ids"] == _norm_ids(appended)
    assert len(appended.meta["segment_ids"]) > len(reader.meta["segment_ids"])
    union = _build(spark, str(tmp_path / "union"), rows_a + rows_b, 2)
    for q in (flt.Term("dup"), flt.Or((flt.Term("scan"), flt.Term("fast")))):
        got = _keyed(Searcher(appended).search(q, k=200).collect())
        want = _keyed(Searcher(union).search(q, k=200).collect())
        assert sorted(got) == sorted(want) and got


def test_launcher_reads_consolidated_generation(spark, tmp_path):
    reader = _build(spark, str(tmp_path / "cons"), _rows(100), 3)
    q = flt.Or((flt.Term("merge"), flt.Term("dup")))
    before = _keyed(Searcher(reader).search(q, k=30).collect())
    consolidate(reader)
    merged = IndexReader(spark, reader.index_path)
    assert merged.meta["segment_ids"] == _norm_ids(merged) == [0]
    s = Searcher(merged)
    assert _keyed(s.search(q, k=30).collect()) == before
    assert _job_counts(spark, lambda: s.search(q, k=30).collect()) == (1, 1)


@pytest.mark.parametrize("vocab_max", [None, "0"], ids=["vocab_cache", "distributed"])
def test_fuzzy_empty_string_term_has_finite_scores(spark, tmp_path, monkeypatch, vocab_max):
    """A vocabulary holding the empty-string term (the single-token ``norm``
    analyzer indexes "" for an empty value) must not divide by zero in the
    fuzzy similarity boost, on either expansion path."""
    if vocab_max is not None:
        monkeypatch.setenv("IRS_FUZZY_VOCAB_MAX", vocab_max)
        monkeypatch.setattr(IndexReader, "FUZZY_VOCAB_MAX", int(vocab_max))
    path = str(tmp_path / "fz")
    df = spark.createDataFrame([("e", ""), ("a", "ab"), ("b", "b")], "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="norm", num_segments=1).build(
        df, key_col="doc_key", text_col="text"
    )
    reader = IndexReader(spark, path)
    assert "" in {r["term"] for r in reader.term_dict().select("term").collect()}
    rows = Searcher(reader).search(flt.Fuzzy("ab", max_distance=2), k=10).collect()
    assert {r["doc_key"] for r in rows} == {"e", "a", "b"}
    assert all(math.isfinite(r["score"]) for r in rows)
