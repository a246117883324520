"""Per-segment reads for the query launcher (segment_reader.hpp analogue).

A search runs ONE Spark task per live segment, with no shuffle: the
reference's per-segment execute loop (SURVEY §2.3): every prepared filter
runs once per segment reader, then the per-segment top-k are merged. Each
task opens the snapshot's parquet files with pyarrow and reads only its own
segment's rows: row groups are pruned on their ``segment_id`` statistics and,
for postings, on the ``field``/``term`` bounds of the compiled scan (the FST
role played by the (field, term)-sorted layout); the surviving rows are then
cut to the exact term set. Nothing is cached between tasks.

:class:`IndexFiles` holds the file lists of one snapshot, listed once per
reader and shipped in the task closure.
"""

from __future__ import annotations

import bisect
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..index.builder import FIELD_SEP

POSTINGS_COLS = (
    "term", "doc_ids_enc", "freqs_enc", "block_last_doc", "block_doc_off",
    "block_freq_off", "block_max_freq", "docs_count", "max_freq",
)
NORMS_COLS = ("field", "chunk_id", "docs_count", "doc_len_enc", "min_len")


def list_parquet(path: str) -> list[str]:
    """Data files under one table path (a directory or a file), sorted;
    like Spark's reader, names starting with ``_`` or ``.`` are skipped."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.join(root, f) for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return sorted(out)


@dataclass(frozen=True)
class IndexFiles:
    """Parquet files of one index snapshot, per table (deletes may be empty)."""

    postings: tuple[str, ...]
    norms: tuple[str, ...]
    docs: tuple[str, ...]
    deletes: tuple[str, ...]
    default_field: str
    multifield: bool


def _stat_range(md, rg: int, col: int | None):
    if col is None:
        return None
    st = md.row_group(rg).column(col).statistics
    if st is None or not st.has_min_max:
        return None
    lo, hi = st.min, st.max
    if isinstance(lo, bytes):
        lo, hi = lo.decode("utf-8", "surrogateescape"), hi.decode("utf-8", "surrogateescape")
    return lo, hi


def _may_hold(md, rg: int, leaf: dict, sid: int, wanted) -> bool:
    """Whether row group ``rg`` may hold rows of segment ``sid`` with a
    wanted term. ``wanted`` maps a field (None: any) to ``(points,
    ranges)``: sorted exact terms and inclusive ``(lo | None, hi | None)``
    term ranges. Missing statistics never prune."""
    r = _stat_range(md, rg, leaf.get("segment_id"))
    if r is not None and not r[0] <= sid <= r[1]:
        return False
    if wanted is None:
        return True
    fr = _stat_range(md, rg, leaf.get("field"))
    tr = _stat_range(md, rg, leaf.get("term"))
    # term bounds are one field's only when the row group holds one field
    one_field = "field" not in leaf or (fr is not None and fr[0] == fr[1])
    for f, (points, ranges) in wanted.items():
        if f is not None and fr is not None and not fr[0] <= f <= fr[1]:
            continue
        if tr is None or not one_field:
            return True
        i = bisect.bisect_left(points, tr[0])
        if i < len(points) and points[i] <= tr[1]:
            return True
        if any((lo is None or lo <= tr[1]) and (hi is None or hi >= tr[0]) for lo, hi in ranges):
            return True
    return False


def read_segment(files, sid: int, columns, wanted=None) -> pa.Table | None:
    """Rows of segment ``sid`` in ``files`` with the ``columns`` each file has
    (plus ``segment_id``); row groups that cannot hold the segment (or, given
    ``wanted``, any wanted term — see :func:`_may_hold`) are never read.
    None when nothing matches."""
    out = []
    for path in files:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        leaf = {md.schema.column(j).path: j for j in range(md.num_columns)}
        rgs = [rg for rg in range(md.num_row_groups) if _may_hold(md, rg, leaf, sid, wanted)]
        if not rgs:
            continue
        names = set(pf.schema_arrow.names)
        cols = ["segment_id"] + [c for c in columns if c in names and c != "segment_id"]
        t = pf.read_row_groups(rgs, columns=cols)
        t = t.filter(pc.equal(t["segment_id"], sid))
        if t.num_rows:
            out.append(t)
    if not out:
        return None
    return pa.concat_tables(out, promote_options="permissive") if len(out) > 1 else out[0]


class SegmentReader:
    """Task-side reads of one segment (constructed inside the launcher task)."""

    def __init__(self, sid: int, files: IndexFiles):
        self.sid = sid
        self.files = files

    def _field_col(self, t: pa.Table):
        """Each row's field (legacy rows without one: the default field)."""
        col = t["field"] if "field" in t.column_names else pa.nulls(t.num_rows, pa.string())
        return pc.fill_null(col, self.files.default_field)

    def _wanted(self, field_terms: dict, field_specs: dict) -> dict:
        out = {}
        for f in sorted(set(field_terms) | set(field_specs)):
            points = sorted(set(field_terms.get(f, ())))
            ranges = [_spec_window(s) for s in set(field_specs.get(f, ()))]
            if points or ranges:
                out[f if self.files.multifield else None] = (points, ranges)
        return out

    def postings(self, scan) -> pd.DataFrame:
        """This segment's posting rows for a compiled scan (``ScanSpec``): per
        field, the exact terms plus every term matching a tail spec
        (``spec_match``). ``term`` carries the kernel key (``field\\x1fterm``
        on mixed-field scans); ``pos_enc`` is read only for the positional
        terms (None on every other row) and only when the scan needs it."""
        from .executor import spec_match

        wanted = self._wanted(scan.field_terms, scan.field_specs)
        if not wanted:
            return pd.DataFrame(columns=list(POSTINGS_COLS))
        pos_terms = {f: set(ts) for f, ts in scan.pos_terms.items() if ts}
        pos_only = scan.need_positions and not any(scan.field_specs.values()) and all(
            set(scan.field_terms.get(f, [])) <= pos_terms.get(f, set()) for f in scan.fields
        )
        cols = ("field",) + POSTINGS_COLS + (("pos_enc",) if pos_only else ())
        t = read_segment(self.files.postings, self.sid, cols, wanted)
        if t is None:
            return pd.DataFrame(columns=list(POSTINGS_COLS))
        field_col, term_col = self._field_col(t), t["term"]
        keep = np.zeros(t.num_rows, dtype=bool)
        for f in scan.fields:
            in_f = pc.equal(field_col, f).to_numpy(zero_copy_only=False)
            want = sorted(set(scan.field_terms.get(f, [])))
            if want:
                hit = pc.is_in(term_col, value_set=pa.array(want, term_col.type))
                keep |= in_f & hit.to_numpy(zero_copy_only=False)
            for spec in set(scan.field_specs.get(f, [])):
                # exact tail membership, tested only inside the spec's window
                lo, hi = _spec_window(spec)
                cand = in_f & ~keep
                if lo is not None:
                    cand &= pc.greater_equal(term_col, lo).to_numpy(zero_copy_only=False)
                if hi is not None:
                    cand &= pc.less_equal(term_col, hi).to_numpy(zero_copy_only=False)
                idx = np.flatnonzero(cand)
                terms = term_col.take(pa.array(idx)).to_pylist()
                keep[idx] = [spec_match(spec, w) for w in terms]
        t = t.filter(pa.array(keep))
        pdf = t.drop_columns([c for c in ("segment_id", "field") if c in t.column_names]).to_pandas()
        if scan.mixed:
            fields = self._field_col(t).to_pylist()
            pdf["term"] = [f"{f}{FIELD_SEP}{w}" for f, w in zip(fields, pdf["term"])]
        if pos_only or not pos_terms:
            return pdf
        # positions for the phrase slots' rows only: the rest of the batch's
        # (typically largest) stream never reads position bytes
        pt = read_segment(
            self.files.postings, self.sid, ("field", "term", "pos_enc"),
            self._wanted(pos_terms, {}),
        )
        pos = {}
        if pt is not None:
            for f, w, enc in zip(
                self._field_col(pt).to_pylist(), pt["term"].to_pylist(), pt["pos_enc"].to_pylist()
            ):
                if w in pos_terms.get(f, ()):
                    pos[scan.key(f, w)] = enc
        pdf["pos_enc"] = [pos.get(key) for key in pdf["term"]]
        return pdf

    def norms(self, fields: list[str] | None = None) -> pd.DataFrame:
        """This segment's chunked Norm2 rows for ``fields`` (None: the default
        field); a single-field index's rows all belong to its one field."""
        t = read_segment(self.files.norms, self.sid, NORMS_COLS)
        if t is None:
            return pd.DataFrame()
        if self.files.multifield:
            want = fields or [self.files.default_field]
            t = t.filter(pc.is_in(self._field_col(t), value_set=pa.array(want)))
        pdf = t.to_pandas()
        if "field" in pdf.columns:
            pdf["field"] = self._field_col(t).to_pylist()
        return pdf

    def deletes(self) -> np.ndarray | None:
        """Sorted deleted doc ids of this segment (document_mask), or None."""
        t = read_segment(self.files.deletes, self.sid, ("doc_id",))
        if t is None:
            return None
        return np.unique(t["doc_id"].to_numpy().astype(np.int64))

    def keys(self, doc_ids: np.ndarray) -> np.ndarray:
        """``doc_key`` per doc id (stored-column fetch ≙ columnstore read)."""
        doc_ids = np.asarray(doc_ids, dtype=np.int64)
        if doc_ids.size == 0:
            return np.empty(0, dtype=object)
        t = read_segment(self.files.docs, self.sid, ("doc_id", "doc_key"))
        ids = t["doc_id"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        at = order[np.searchsorted(ids, doc_ids, sorter=order)]
        return t["doc_key"].take(pa.array(at)).to_numpy(zero_copy_only=False).astype(object)


def _spec_window(spec: tuple) -> tuple[str | None, str | None]:
    """Inclusive term bounds covering every match of a tail spec (prefix,
    range, wildcard's literal prefix): they prune row groups and bound the
    rows the exact ``spec_match`` test runs on."""
    from .executor import _prefix_successor

    kind = spec[0]
    if kind == "range":
        return spec[1], spec[2]
    if kind == "prefix":
        p = spec[1]
    else:  # wildcard: the literal run before the first unescaped % or _
        pat, p, i = spec[1], "", 0
        while i < len(pat) and pat[i] not in "%_":
            if pat[i] == "\\" and i + 1 < len(pat):
                i += 1
            p += pat[i]
            i += 1
    return (p or None), (_prefix_successor(p) if p else None)
