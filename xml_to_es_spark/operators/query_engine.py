"""BM25 top-k query engine over the compressed postings index.

The capability the reference delegates to ElasticSearch's `match`
query (examples/mapping.json analyzed fields; IndexSpecPage.js:44-115
exercises it) — built from scratch per BASELINE.json: BM25 k1=1.2,
b=0.75, vectorized scoring over delta+varbyte postings,
rank-identical (docIDs + scores) to the pyref oracle.

Physical query plan (scale-first):
  1. query terms tokenized driver-side (queries are tiny);
  2. term dictionary read filtered by `term IN (...)` — parquet
     row-group min/max pruning (postings files are term-sorted);
  3. idf computed driver-side (a handful of floats);
  4. postings scan filtered the same way, joined to the BROADCAST
     query-term table (broadcast hash join — never a shuffle of the
     postings side);
  5. top-k: the WAND kernel (``operators/wand.py``) per (query,
     dir[, range]) — OR ``match``, ``operator: and`` /
     minimum_should_match and flat bool specs (required, excluded
     and optional terms) — one numpy pass over the group's blocks
     (a range decodes only its blocks), summing in the pinned order
     (term-major lexicographic — identical to pyref, so scores are
     bit-equal);
  6. WAND batches under a posting-volume bound on a local index skip
     the Spark job: the driver reads the pruned segments with pyarrow
     and runs the same kernel (``_wand_coordinator``);
  7. every other bool spec (rich trees, structured filters, and
     flat specs rewritten to the same tree) compiles through ONE
     compiler, ``_bool_tree_match_set``, whose predicates are all SQL
     text: segments decode in an Arrow-batched kernel that emits
     (query_id, doc_id, contrib) — doc lengths are co-located in the
     posting (dls_bin), so scoring needs NO join to a 10^12-row docs
     table — and one JVM hash-agg plus a CASE per query_id yield the
     match set that bool top-k, aggregations, counts, sort and
     collapse share.

Tie-break doc_id ASC everywhere (mandatory for rank-identity).
"""

from __future__ import annotations

import datetime
import logging
import math
import numbers
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_es_spark.session import local_rows_df
from xml_to_es_spark.config import BM25Config
from xml_to_es_spark.operators.postings import varbyte_decode
from xml_to_es_spark.pyref import idf as _idf
from xml_to_es_spark.pyref import tokenize

CONTRIB_SCHEMA = "query_id long, term string, doc_id long, contrib double"
TOPK_SCHEMA = "query_id long, rank int, doc_id long, score double"

logger = logging.getLogger(__name__)

# the postings columns the WAND kernel reads from one segment
_SEG_COLS = (
    "salt", "n_docs", "block_last_doc",
    "block_doc_off", "block_tf_off", "block_dl_off",
    "docs_bin", "tfs_bin", "dls_bin",
)


# WAND cursor roles per query_id: ({stored term: (required, excluded,
# weight)}, min_match) — see wand.wand_topk. A query without an entry
# is the plain OR match.
Roles = dict[int, tuple[dict[str, tuple[bool, bool, int]], int]]


def _sql_str(s: str) -> str:
    """A Python string as a safely-escaped Spark SQL string literal
    (terms are analyzer tokens, but escape defensively anyway)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _stats_row_local(path: str) -> dict | None:
    """The 1-row stats table read driver-side (local filesystems
    only); None routes the caller to the Spark read."""
    if "://" in path and not path.startswith("file:"):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = path[len("file:"):] if path.startswith("file:") else path
    try:
        t = pq.read_table(p)
    except (OSError, pa.ArrowException):
        logger.debug("stats: local read of %s failed; Spark reads it", p,
                     exc_info=True)
        return None
    if t.num_rows < 1:
        return None
    return {c: t.column(c)[0].as_py() for c in t.column_names}


def _dead_mask(doc_ids: np.ndarray, dead: np.ndarray | None) -> np.ndarray | None:
    """Boolean mask of tombstoned doc_ids (dead sorted ascending)."""
    if dead is None or not dead.size:
        return None
    pos = np.searchsorted(dead, doc_ids)
    pos = np.minimum(pos, dead.size - 1)
    return dead[pos] == doc_ids


def _local_dir(path: str) -> str | None:
    """The local filesystem path of an index dir, or None when it
    lives behind a non-local filesystem scheme."""
    d = path[len("file:"):] if path.startswith("file:") else path
    return None if "://" in d else d


def _wand_group_hits(
    entries: list[dict],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    dead: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    doc_lo: int | None = None,
    doc_hi: int | None = None,
    roles: tuple[dict, int] | None = None,
) -> list[tuple[int, float]]:
    """The WAND kernel call shared by the Spark and coordinator paths:
    one (query, dir[, range]) group's matched terms, one
    ``{term, idf, avgdl, segments}`` entry per term (segments are rows
    holding the :data:`_SEG_COLS` columns) → its local top-k
    [(doc_id, score)]. ``roles`` is the query's entry in a
    :data:`Roles` map; every term it names becomes an entry, with no
    segments when the group holds none of its postings (so a required
    term missing here empties the page)."""
    from xml_to_es_spark.operators.wand import wand_topk

    min_match = 0
    if roles is not None:
        term_roles, min_match = roles
        by_term = {e["term"]: e for e in entries}
        entries = [
            {**by_term.get(t, {"term": t, "idf": 0.0, "segments": []}),
             "required": required, "excluded": excluded, "weight": weight}
            for t, (required, excluded, weight) in term_roles.items()
        ] + [e for t, e in by_term.items() if t not in term_roles]
    return wand_topk(
        entries, k, k1, b, avgdl, block_size,
        doc_lo=doc_lo, doc_hi=doc_hi, dead=dead, after=after,
        min_match=min_match,
    )


def _entries_of_rows(rows: Iterable[dict]) -> list[dict]:
    """Kernel entries from matched segment rows that each carry their
    term, idf and avgdl (the Spark side's group rows)."""
    entries: dict[str, dict] = {}
    for r in rows:
        e = entries.get(r["term"])
        if e is None:
            e = entries[r["term"]] = {
                "term": r["term"], "idf": float(r["idf"]),
                "avgdl": float(r["avgdl"]), "segments": [],
            }
        e["segments"].append(r)
    return list(entries.values())


def _segments_by_term(tbl) -> dict[str, list[dict]]:
    """term → its segment rows in a pyarrow table of :data:`_SEG_COLS`,
    built once per table: block columns become numpy views into the
    table's buffers, binary columns bytes."""
    import pyarrow as pa

    cols = {}
    for c in _SEG_COLS:
        col = tbl.column(c)
        if pa.types.is_list(col.type):
            arr = col.combine_chunks()
            vals = arr.values.to_numpy()
            off = arr.offsets.to_numpy().tolist()
            cols[c] = [vals[lo:hi] for lo, hi in zip(off, off[1:])]
        else:
            cols[c] = col.to_pylist()
    out: dict[str, list[dict]] = {}
    names = list(cols)
    for t, vals in zip(tbl.column("term").to_pylist(), zip(*cols.values())):
        out.setdefault(t, []).append(dict(zip(names, vals)))
    return out


def _merge_pages(
    byq: dict[int, list[tuple[float, int]]], k_local: int, from_: int
) -> list[tuple[int, int, int, float]]:
    """Global (query_id, rank, doc_id, score) rows from per-query
    partial top-k lists of (score, doc_id): ranks from_+1 .. k_local
    by (score desc, doc_id asc). Scores pass through untouched."""
    rows = []
    for qid in sorted(byq):
        lst = sorted(byq[qid], key=lambda sd: (-sd[0], sd[1]))
        for rank in range(from_ + 1, min(k_local, len(lst)) + 1):
            s, d = lst[rank - 1]
            rows.append((qid, rank, d, s))
    return rows


def _score_segments(k1: float, b: float, dead_by_ord=None):
    """mapInPandas kernel: postings segments × matched query terms →
    per-(query, doc) BM25 contributions. Fully numpy inside the Arrow
    batch. ``dead_by_ord[o]`` (sorted array) drops tombstoned docs —
    versions stored in dir ord o but superseded by a later delta.
    avgdl rides per-row on the broadcast query-term table (it is
    per-FIELD on fielded indexes; constant on single-field ones)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_t, out_d, out_c = [], [], [], []
            for i in range(len(pdf)):
                n = int(pdf["n_docs"].iat[i])
                doc_ids = np.cumsum(
                    varbyte_decode(pdf["docs_bin"].iat[i], n).astype(np.int64)
                )
                tfs = varbyte_decode(pdf["tfs_bin"].iat[i], n).astype(np.float64)
                dls = varbyte_decode(pdf["dls_bin"].iat[i], n).astype(np.float64)
                if dead_by_ord:
                    dead = dead_by_ord.get(int(pdf["ord"].iat[i]))
                    m = _dead_mask(doc_ids, dead)
                    if m is not None and m.any():
                        keep = ~m
                        doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
                        n = doc_ids.size
                        if n == 0:
                            continue
                w = float(pdf["idf"].iat[i])
                avgdl = float(pdf["avgdl"].iat[i])
                contrib = w * (tfs * (k1 + 1.0) / (
                    tfs + k1 * (1.0 - b + b * dls / avgdl)
                ))
                out_q.append(np.full(n, pdf["query_id"].iat[i], dtype=np.int64))
                out_t.append(np.full(n, pdf["term"].iat[i], dtype=object))
                out_d.append(doc_ids)
                out_c.append(contrib)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "term": np.concatenate(out_t),
                    "doc_id": np.concatenate(out_d),
                    "contrib": np.concatenate(out_c),
                }
            )

    return run


def _term_docs_segments(dead_by_ord=None):
    """mapInPandas kernel for the significant_terms foreground pass:
    postings segments → (term, doc_id) membership pairs, docs stream
    only (tf/dl bytes are never decoded — membership is all the
    aggregation needs), tombstoned versions dropped exactly like the
    scoring kernel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out_t, out_d = [], []
            for i in range(len(pdf)):
                n = int(pdf["n_docs"].iat[i])
                doc_ids = np.cumsum(
                    varbyte_decode(pdf["docs_bin"].iat[i], n).astype(np.int64)
                )
                if dead_by_ord:
                    dead = dead_by_ord.get(int(pdf["ord"].iat[i]))
                    m = _dead_mask(doc_ids, dead)
                    if m is not None and m.any():
                        doc_ids = doc_ids[~m]
                        if doc_ids.size == 0:
                            continue
                out_t.append(
                    np.full(doc_ids.size, pdf["term"].iat[i], dtype=object)
                )
                out_d.append(doc_ids)
            if not out_t:
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(out_t),
                    "doc_id": np.concatenate(out_d),
                }
            )

    return run


class _BoolLeaf:
    """One text match clause of a rich (nested) bool tree: OR over its
    tokens by default (the ES per-clause match), AND with
    ``operator: and``; ``boost`` multiplies its BM25 contribution."""

    __slots__ = ("cid", "terms", "op_and", "boost", "scoring", "field",
                 "name")

    def __init__(self, cid, terms, op_and, boost, scoring, field,
                 name=None):
        self.cid, self.terms, self.op_and = cid, terms, op_and
        self.boost, self.scoring, self.field = boost, scoring, field
        self.name = name


class _BoolPhrase:
    """One match_phrase clause of a rich bool tree: the doc must
    contain the tokens consecutively (within ``slop``); scores the
    pinned phrase BM25 sum × boost. Evaluated by the positional
    kernel over the FULL match set and folded into the same
    per-clause aggregation as term leaves."""

    __slots__ = ("cid", "text", "slop", "boost", "scoring", "field",
                 "name")

    def __init__(self, cid, text, slop, boost, scoring, field, name=None):
        self.cid, self.text, self.slop = cid, text, slop
        self.boost, self.scoring, self.field = boost, scoring, field
        self.name = name


class _BoolStruct:
    """A structured (term/terms/range/exists) clause of a rich bool
    tree — a non-scoring predicate over stored doc values."""

    __slots__ = ("clause",)

    def __init__(self, clause):
        self.clause = clause


class _BoolRankFeature(_BoolStruct):
    """ES ``rank_feature`` clause: matched = the feature doc value is
    present and POSITIVE (``.clause`` is exactly that range predicate,
    so the structured machinery — candidate generation, pushed scans,
    match CASE — handles it unchanged); score = boost · fn(value),
    computed as a pure JVM expression over the SAME joined doc-values
    projection. ``fn``: saturation x/(x+pivot), log
    ln(scaling_factor + x), sigmoid x^e/(x^e + pivot^e) — the ES
    function set; the pivot/scaling parameters are REQUIRED (ES
    defaults saturation's pivot to a per-shard approximate geometric
    mean — a cluster-state default this engine does not guess;
    documented deviation)."""

    __slots__ = ("column", "fn", "params", "boost", "scoring", "name")

    def __init__(self, column, fn, params, boost, scoring, name=None):
        super().__init__({"range": {column: {"gt": 0}}})
        self.column, self.fn, self.params = column, fn, params
        self.boost, self.scoring, self.name = boost, scoring, name


class _BoolNested(_BoolStruct):
    """ES ``nested`` clause: per-nested-object match scoping over an
    array-of-struct doc value (the ES nested FIELD TYPE, re-expressed
    Spark-first — instead of hidden sub-documents the objects live in
    ONE array column stored via ``IndexConfig(stored_fields=...)``,
    and the inner query evaluates PER ELEMENT as a higher-order JVM
    array expression, so predicate co-occurrence is scoped to a
    single object exactly as ES scopes it to a single nested doc).
    Candidate generation, the pushed doc-values scan and the match
    CASE ride the structured machinery unchanged — zero extra
    shuffles at any corpus size.

    Inner query kinds: term/terms/range/exists plus bool combinations
    of those (the reference's nested sub-properties are unanalyzed
    metadata — examples/mapping.json:5-9 declares them "index":"no" —
    so analyzed-text-inside-nested has no parity target and raises).
    Scoring contract (documented deviation from ES's
    BM25-over-nested-docs): each matching object contributes the
    constant 1.0, combined by ``score_mode`` — ``sum`` → matching
    object count × boost, ``avg``/``max`` → boost, ``none`` → 0."""

    __slots__ = ("path", "inner", "score_mode", "boost", "scoring",
                 "name")

    def __init__(self, path, inner, score_mode, boost, scoring,
                 name=None):
        super().__init__({"nested": {"path": path, "query": inner}})
        self.path, self.inner, self.score_mode = path, inner, score_mode
        self.boost, self.scoring, self.name = boost, scoring, name


class _BoolNode:
    """An ES ``bool`` node: role lists of children (leaves or nested
    bools), optional ``minimum_should_match`` and ``boost``.

    Two sibling compound kinds reuse the same shape: ``dis_max``
    (children in ``should``, matched = any — ES scores max +
    tie_breaker·Σrest instead of the bool sum) and ``boosting``
    (positive child in ``must``, negative child in ``negative`` —
    matched ignores the negative clause entirely; a negative match
    DEMOTES the score by ``negative_boost`` instead of excluding,
    which is exactly what must_not cannot express), and
    ``constant_score`` (one filter child — matched = the child,
    score = a constant 1.0 × boost, the Lucene multi-term rewrite;
    ``scoring`` False pins the constant to 0 in filter context)."""

    __slots__ = ("must", "should", "must_not", "filter", "msm", "boost",
                 "kind", "tie_breaker", "negative", "negative_boost",
                 "scoring", "name")

    def __init__(self):
        self.must, self.should, self.must_not, self.filter = [], [], [], []
        self.msm, self.boost = None, 1.0
        self.kind, self.tie_breaker = "bool", 0.0
        self.negative, self.negative_boost = [], 0.5
        self.scoring = True
        self.name = None

    def need_should(self) -> int:
        """Required matched-should count (ES default: 1 when no
        must/filter clauses, else 0; explicit msm accepts ints and
        ES percentage strings)."""
        if not self.should:
            return 0
        if self.msm is None:
            return 0 if (self.must or self.filter) else 1
        return _min_match_count(self.msm, len(self.should))


def _is_rich_bool(clauses: dict) -> bool:
    """True when a bool query spec uses the RICH (nested-tree) form:
    role values given as clause lists/dicts, bool-level
    minimum_should_match/boost, or filter clauses carrying nested
    bools / match options. Legacy flat specs (role → token string,
    filter → string or list of simple single-key clauses) are what
    the WAND executor may take (:func:`_is_flat_text_bool`); the tree
    compiler rewrites them first (``QueryEngine._flat_bool_tree``)."""
    if ("minimum_should_match" in clauses or "boost" in clauses
            or "_name" in clauses):
        return True
    for role in ("must", "should", "must_not"):
        if isinstance(clauses.get(role), (list, tuple, dict)):
            return True
    fv = clauses.get("filter")
    if isinstance(fv, dict):
        return True
    if isinstance(fv, (list, tuple)):
        for cl in fv:
            if isinstance(cl, dict) and (
                "bool" in cl or "match_phrase" in cl
                or "dis_max" in cl or "boosting" in cl
                or "constant_score" in cl or "rank_feature" in cl
                or isinstance(cl.get("match"), dict)
            ):
                return True
    return False


def _is_flat_text_bool(clauses: dict) -> bool:
    """True when a bool spec is the legacy flat form with text clauses
    only (role → token string; filter a string or a list of
    ``{"match": text}`` clauses) — the specs :meth:`QueryEngine.bool_topk`
    answers on the WAND executor."""
    if _is_rich_bool(clauses):
        return False
    fv = clauses.get("filter")
    return not isinstance(fv, (list, tuple)) or all(
        isinstance(cl, dict) and list(cl) == ["match"]
        and isinstance(cl["match"], str)
        for cl in fv
    )


class QueryEngine:
    """Top-k BM25 retrieval over an index directory produced by
    :class:`~xml_to_es_spark.operators.index_build.IndexBuilder`.

    Reads base + upsert/streaming DELTA indexes (``deltas/delta=k``)
    + the tombstone log transparently: global stats (N, avgdl) are
    recomputed exactly over the LIVE doc set, per-term df is corrected
    for tombstoned postings, and superseded doc versions are dropped
    at decode time — so rankings and scores are bit-equal to a fresh
    full rebuild over the updated corpus (tests/test_upsert.py)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cfg: BM25Config | None = None,
        max_tombstones: int | None = 5_000_000,
    ):
        from xml_to_es_spark.operators.index_build import index_dirs, load_kills

        self.spark = spark
        self.dir = index_dir
        self.cfg = cfg or BM25Config()
        self.dirs = index_dirs(index_dir)  # [(ord, path)]
        # per-dir stats (block_size may differ per delta build config).
        # The stats table is one row per dir at ANY scale — read it on
        # the driver (pyarrow) instead of running a Spark job per dir;
        # non-local paths fall back to the distributed read.
        self._dir_stats: dict[int, dict] = {}
        for o, p in self.dirs:
            row = _stats_row_local(f"{p}/stats")
            if row is None:
                row = spark.read.parquet(f"{p}/stats").first().asDict()
            self._dir_stats[o] = row
        d = self._dir_stats[0]
        self.block_size = int(d.get("block_size") or 128)
        self.n_groups = int(d.get("n_groups") or 0)
        # fielded indexes store {field}:{token} term keys and per-field
        # avgdl (stats columns avgdl__<field>); the base dir's mapping
        # is authoritative (deltas inherit it at build time)
        fields_csv = d.get("indexed_fields")
        self.fields: tuple[str, ...] = (
            tuple(fields_csv.split(",")) if fields_csv else ("text",)
        )
        self.fielded = self.fields != ("text",)
        self.default_field = "text" if "text" in self.fields else self.fields[0]
        # configurable analyzer (round 6): the base dir's stored chain
        # is authoritative; query text analyzes exactly like the build
        self.stopwords: tuple[str, ...] = tuple(
            s for s in (d.get("an_stopwords") or "").split(",") if s
        )
        self.stemmer: str | None = d.get("an_stemmer") or None
        # the kill set spans upsert tombstones AND the deletes log, so
        # even a single-dir (base-only) index can carry kills
        self.kills: dict[int, int] = load_kills(spark, index_dir)
        if len(self.dirs) == 1 and not self.kills:
            self.n_docs = int(d["n_docs"])
            self.avgdl = float(d["avgdl"])
            if d.get("min_doc") is None or d.get("max_doc") is None:
                # legacy stats without the id-range columns: recover it
                # from the docs table (a narrow min/max agg) rather than
                # silently defaulting to [0, 1) — which would make the
                # ranged paths (topk_wand n_ranges>1, phrase_topk)
                # return truncated results
                row = (
                    spark.read.parquet(f"{index_dir}/docs")
                    .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
                    .first()
                )
                self.min_doc = int(row["lo"])
                self.max_doc = int(row["hi"])
            else:
                self.min_doc = int(d["min_doc"])
                self.max_doc = int(d["max_doc"])
            if self.fielded:
                self._avgdl_by_field = {
                    f: float(d[f"avgdl__{f}"]) for f in self.fields
                }
        else:
            # merged corpus-wide stats over the LIVE doc set: exact,
            # not per-batch (avg over int64 doc_len sums exactly, so
            # avgdl is bit-equal to a full rebuild's)
            from xml_to_es_spark.operators.index_build import live_docs

            per_field = (
                [F.avg(f"doc_len__{f}").alias(f"a__{f}") for f in self.fields]
                if self.fielded
                else []
            )
            st = live_docs(spark, index_dir).agg(
                F.count("*").alias("n"),
                F.avg("doc_len").alias("avgdl"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
                *per_field,
            ).first()
            self.n_docs = int(st["n"])
            # an index whose docs are ALL deleted still answers
            # (with zero hits) instead of crashing on null aggs
            self.avgdl = float(st["avgdl"]) if st["avgdl"] is not None else 0.0
            self.min_doc = int(st["lo"]) if st["lo"] is not None else 0
            self.max_doc = int(st["hi"]) if st["hi"] is not None else 0
            if self.fielded:
                self._avgdl_by_field = {
                    f: float(st[f"a__{f}"]) if st[f"a__{f}"] is not None else 0.0
                    for f in self.fields
                }
        if not self.fielded:
            self._avgdl_by_field = {self.default_field: self.avgdl}
        if max_tombstones is not None and len(self.kills) > max_tombstones:
            raise ValueError(
                f"tombstone set exceeds max_tombstones={max_tombstones} — the "
                "engine broadcasts it to every task; run IndexBuilder.compact() "
                "to fold deltas+tombstones into a fresh index, or pass "
                "max_tombstones=None to override"
            )
        # term → meta cache: the terms dictionary is immutable for
        # this engine instance (an instance snapshots dirs/tombstones
        # at construction — build a new engine after an upsert), so
        # repeated query terms skip the dictionary scan entirely
        self._term_cache: dict[str, dict | None] = {}
        # per dir-ord: sorted array of doc_ids whose stored version
        # there is superseded (kill_ord > ord). Tombstones cover only
        # UPDATED docs, so these stay small between compactions; they
        # ship to tasks via the kernel closure (broadcast)
        self._dead_by_ord = {}
        for o, _ in self.dirs:
            dead = np.array(
                sorted(x for x, k in self.kills.items() if k > o), dtype=np.int64
            )
            if dead.size:
                self._dead_by_ord[o] = dead
        # memoized parquet scans: every spark.read.parquet(path) builds
        # a fresh file index (one listing + schema-inference job); an
        # engine instance snapshots its dirs at construction, so the
        # same DataFrame handle is reused for every query — repeated
        # queries never re-list the index (guide §6 file-listing cost)
        self._scan_cache: dict[str, DataFrame] = {}
        # coordinator-side dictionary lookup state (see
        # :meth:`_dict_rows_local`): size check memoized, one pyarrow
        # dataset handle per dir
        self._dict_local_ok: bool | None = None
        self._dict_ds: dict[int, object] = {}
        # coordinator WAND path (see :meth:`_wand_coordinator`): one
        # pyarrow postings dataset handle per dir; a failed local read
        # routes this engine's later batches straight to Spark
        self._post_ds: dict[int, object] = {}
        self._post_local_ok = True

    def _parquet(self, path: str) -> DataFrame:
        df = self._scan_cache.get(path)
        if df is None:
            df = self._scan_cache[path] = self.spark.read.parquet(path)
        return df

    # -- term metadata -----------------------------------------------------

    def _term_meta(self, terms: list[str]) -> dict[str, dict]:
        """term → {"df": live df, "groups": {ord: group}} via
        term-pruned scans of each dir's terms dictionary (term-sorted
        files → parquet min/max row-group pruning; the group column
        drives partition-DIRECTORY pruning of the postings scans).
        When tombstones exist, raw per-dir df is corrected by decoding
        the (query terms only) doc streams and counting superseded
        appearances — the same bytes the scoring pass reads anyway."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            rows = self._dict_rows_local(missing)
            if rows is None:
                scans = []
                for o, p in self.dirs:
                    scans.append(
                        self._parquet(f"{p}/terms")
                        .filter(F.col("term").isin(missing))
                        .select("term", "df", "group")
                        .withColumn("ord", F.lit(o))
                    )
                allt = scans[0]
                for sc in scans[1:]:
                    allt = allt.unionByName(sc)
                # ONE job over the unioned term-pruned scans (not one
                # per dir — per-query driver latency stays flat as
                # deltas accumulate); absent terms cached as None
                rows = [
                    (r["term"], int(r["df"]), int(r["group"]), int(r["ord"]))
                    for r in allt.collect()
                ]
            fetched: dict[str, dict] = {}
            for term, dfv, grp, ordv in rows:
                m = fetched.setdefault(term, {"df": 0, "groups": {}})
                m["df"] += dfv
                m["groups"][ordv] = grp
            # tombstone df-correction happens HERE, once per term, so
            # cached entries already hold the live df
            if self._dead_by_ord and fetched:
                for term, killed in self._killed_counts(fetched).items():
                    fetched[term]["df"] -= killed
            for t in missing:
                self._term_cache[t] = fetched.get(t)
        return {t: self._term_cache[t] for t in terms if self._term_cache[t]}

    # coordinator-side dictionary read: below this many bytes of terms
    # files (per engine, all dirs) the per-query dictionary lookup runs
    # as a pyarrow row-group-pruned read on the driver — the FST-style
    # coordinator lookup every search engine does — instead of a Spark
    # job. Above it (cluster-scale dictionaries) the pruned distributed
    # scan is the right tool and the behaviour is unchanged.
    _LOCAL_DICT_MAX_BYTES = 256 * 1024 * 1024

    def _dict_rows_local(self, missing: list[str]):
        """(term, df, group, ord) rows for ``missing`` via a driver-
        side pyarrow read of each dir's terms dataset (hive-partitioned
        by group; parquet min/max stats prune row groups exactly like
        the pushed filter in the Spark scan). Returns None to route to
        the distributed scan (dictionary too large, non-local paths,
        or a failed read: an ``OSError`` or pyarrow error, logged at
        DEBUG; any other error reaches the caller)."""
        if self._dict_local_ok is None:
            import os as _os

            total = 0
            ok = True
            for _o, p in self.dirs:
                d = _local_dir(p)
                if d is None:
                    ok = False
                    break
                for root, _dirs, files in _os.walk(f"{d}/terms"):
                    total += sum(
                        _os.path.getsize(_os.path.join(root, f))
                        for f in files
                        if f.endswith(".parquet")
                    )
            self._dict_local_ok = ok and total <= self._LOCAL_DICT_MAX_BYTES
        if not self._dict_local_ok:
            return None
        import pyarrow as pa
        import pyarrow.dataset as pads

        try:
            rows: list[tuple] = []
            for o, p in self.dirs:
                dset = self._dict_ds.get(o)
                if dset is None:
                    dset = self._dict_ds[o] = pads.dataset(
                        f"{_local_dir(p)}/terms", format="parquet",
                        partitioning="hive",
                    )
                t = dset.to_table(
                    columns=["term", "df", "group"],
                    filter=pads.field("term").isin(missing),
                )
                terms_a = t.column("term").to_pylist()
                dfs_a = t.column("df").to_pylist()
                grp_a = t.column("group").to_pylist()
                rows += [
                    (tm, int(dv), int(g), o)
                    for tm, dv, g in zip(terms_a, dfs_a, grp_a)
                ]
            return rows
        except (OSError, pa.ArrowException):
            logger.debug(
                "local terms-dictionary read failed; the distributed "
                "scan serves this engine from now on", exc_info=True,
            )
            self._dict_local_ok = False
            return None

    def _killed_counts(self, meta: dict[str, dict]) -> dict[str, int]:
        """Per term, the number of stored postings whose doc version
        is superseded — decode of doc streams only (tf/dl untouched)."""
        pruned = self._pruned_postings(meta).select(
            "ord", "term", "n_docs", "docs_bin"
        )
        dead_by_ord = self._dead_by_ord

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                terms, counts = [], []
                for i in range(len(pdf)):
                    dead = dead_by_ord.get(int(pdf["ord"].iat[i]))
                    if dead is None:
                        continue
                    n = int(pdf["n_docs"].iat[i])
                    doc_ids = np.cumsum(
                        varbyte_decode(pdf["docs_bin"].iat[i], n).astype(np.int64)
                    )
                    m = _dead_mask(doc_ids, dead)
                    if m is not None and m.any():
                        terms.append(pdf["term"].iat[i])
                        counts.append(int(m.sum()))
                yield pd.DataFrame({"term": terms, "killed": counts})

        rows = (
            pruned.mapInPandas(run, schema="term string, killed long")
            .groupBy("term")
            .agg(F.sum("killed").alias("killed"))
            .collect()
        )
        return {r["term"]: int(r["killed"]) for r in rows}

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term → (live df, base group) — back-compat view of
        :meth:`_term_meta`."""
        meta = self._term_meta(terms)
        return {
            t: (m["df"], m["groups"].get(0, next(iter(m["groups"].values()))))
            for t, m in meta.items()
        }

    def term_groups(self, terms: list[str]) -> dict[str, int]:
        return {t: g for t, (df, g) in self.term_stats(terms).items()}

    # -- fields --------------------------------------------------------------

    def _resolve_field(self, field: str | None) -> str | None:
        """Validate + default a query's target field. Returns None on
        single-field indexes (bare term keys)."""
        if not self.fielded:
            if field not in (None, "text"):
                raise ValueError(
                    f"field {field!r} requested but this index is single-field"
                    " (built without IndexConfig(indexed_fields=...))"
                )
            return None
        f = field or self.default_field
        if f not in self.fields:
            raise ValueError(
                f"field {f!r} is not indexed; indexed_fields={self.fields}"
            )
        return f

    def _tokenize(self, text: str) -> list[str]:
        """Query-text analysis with the INDEX's stored chain (pinned
        tokenize → stopwords → stemmer, the round-6 configurable
        analyzer) — every query path analyzes exactly like the build,
        so a query for "joins" hits docs indexed as "join" on a
        stemmed index. The empty default IS the historical pinned
        tokenize, bit-for-bit."""
        from xml_to_es_spark.pyref import analyze

        return analyze(text, self.stopwords, self.stemmer)

    def _term_of(self, token: str, field: str | None) -> str:
        """Query token → stored term key ({field}:{token} on fielded
        indexes, bare otherwise). ``field`` must be pre-resolved."""
        return f"{field}:{token}" if field is not None else token

    def _avgdl_of(self, field: str | None) -> float:
        return self._avgdl_by_field[field] if field is not None else self.avgdl

    def _require_positions(self, op: str) -> None:
        """Reject a positional query on the driver, before any job,
        when a dir's stored mapping says it holds no positions."""
        if any(
            st.get("store_positions") is False for st in self._dir_stats.values()
        ):
            raise ValueError(
                f"{op} needs an index built with "
                "IndexConfig(store_positions=True)"
            )

    def _pruned_postings(self, meta: dict[str, dict]) -> DataFrame:
        """Union of per-dir postings scans, each pruned to the query
        terms' partition groups and term ranges, tagged with the dir
        ord and its block size."""
        parts = []
        for o, p in self.dirs:
            terms_here = [t for t, m in meta.items() if o in m["groups"]]
            if not terms_here:
                continue
            df = self._parquet(f"{p}/postings")
            groups = sorted({meta[t]["groups"][o] for t in terms_here})
            df = df.filter(F.col("group").isin(groups)).filter(
                F.col("term").isin(terms_here)
            )
            bs = int(self._dir_stats[o].get("block_size") or 128)
            parts.append(
                df.withColumn("ord", F.lit(o)).withColumn("bsz", F.lit(bs))
            )
        # dirs written before the per-block bound columns were dropped
        # still carry them; nothing reads them
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part, allowMissingColumns=True)
        return out

    # -- query -------------------------------------------------------------

    def topk(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        fuzziness: int = 0,
        field: str | None = None,
        fields: list[str] | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """Batch top-k. ``queries`` = [(query_id, text)].

        Returns DataFrame(query_id, rank, doc_id, score) with the
        pinned deterministic summation order (rank-identical and
        score-bit-equal to pyref). ``fuzziness``: ES fuzzy match —
        dictionary expansion, each variant scored with its own idf.
        ``field``: score ONE analyzed field of a fielded index (ES
        ``match: {<field>: ...}``); ``fields``: several at once, summed
        (multi_match most_fields). ``from_``: ES pagination — rows
        from_+1 .. from_+k of the full ranking, global ranks kept.
        Answered by :meth:`topk_wand`."""
        return self.topk_wand(
            queries, k=k, fuzziness=fuzziness, field=field, fields=fields,
            from_=from_,
        )

    def topk_wand(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        n_ranges: int | None = None,
        fuzziness: int = 0,
        field: str | None = None,
        fields: list[str] | None = None,
        from_: int = 0,
        prefix_expansions: int | None = None,
        search_after: dict[int, tuple[float, int]] | None = None,
        field_boosts: dict | None = None,
        min_match: int | str | None = None,
    ) -> DataFrame:
        """Block-max WAND path: doc-at-a-time evaluation skipping
        blocks whose upper bound cannot beat the running threshold —
        skipped blocks are never decompressed. Scores are the pinned
        term-lexicographic sum, rank-identical and bit-equal to pyref.

        ``n_ranges=None``: one task per query (fine for query batches).
        ``n_ranges=R``: the SCALE path — the doc_id space is split into
        R ranges and WAND runs per (query, range): a Zipf-head term's
        10^11-entry posting list is scored by R tasks instead of one.
        Segments are range-pruned before the shuffle via their
        (first_doc, last block_last_doc) span, so a salted hot term
        ships only ~1/R of its bytes to each task. Per-doc scores are
        complete within a range (ranges partition doc_ids), so the
        global top-k is a WindowGroupLimit merge of the R local top-k
        lists — no re-summation, bit-equal scores.

        ``fuzziness``: ES fuzzy match via dictionary expansion (each
        variant is just another WAND cursor with its own idf).
        ``field``/``fields``: see :meth:`topk` — every (field, token)
        is an independent cursor with its field's idf and avgdl.
        ``prefix_expansions``: ES match_bool_prefix — the LAST query
        token expands to the terms it prefixes (see
        :meth:`prefix_topk`).

        ``min_match``: ES minimum_should_match — a doc must contain at
        least this many of the query's distinct tokens (an int or an ES
        percentage string such as ``"75%"``, counted over all tokens,
        present in the corpus or not); ``"all"`` is ES ``operator:
        and``. On one field, a count equal to the token count makes
        every token a required cursor, so a token absent from the
        whole corpus matches nothing. With ``fields`` the count runs
        over the matched (field, token) terms.

        ``search_after``: ES cursor pagination — per query_id the
        (score, doc_id) of the last hit served. WAND scores are the
        pinned deterministic sum (bit-stable across jobs), so the
        cursor filters by exact sort-key comparison INSIDE the
        kernels: served docs are masked out of the candidates, the
        kernel keeps k hits at any depth (unlike ``from_``, which
        ranks from_+k rows). Ranks restart at 1 per
        page.

        Where it runs: a batch whose matched posting volume (Σ live df
        over its (query, term) pairs) is at most
        :data:`_COORDINATOR_MAX_POSTINGS` on an all-local index is
        answered on the driver (:meth:`_wand_coordinator`) with no
        Spark job; ``n_ranges`` applies only on the Spark side, which
        serves everything else. Both sides return identical rows."""
        if min_match is not None and (fuzziness or prefix_expansions):
            raise ValueError(
                "min_match cannot be combined with fuzziness or prefix "
                "expansion (expanded variants are scored disjunctively)"
            )
        qt = self._query_terms(
            queries, fuzziness, field, fields,
            prefix_expansions=prefix_expansions,
            field_boosts=field_boosts,
        )
        if qt is None:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        meta, present = qt
        roles = None
        if min_match is not None:
            present, roles = self._min_match_roles(
                queries, present, min_match, one_field=fields is None
            )
        return self._wand_run(
            meta, present, roles, len(queries), k, from_, n_ranges,
            search_after, "topk_wand",
        )

    def _min_match_roles(
        self,
        queries: list[tuple[int, str]],
        present: list[tuple],
        min_match: int | str,
        one_field: bool,
    ) -> tuple[list[tuple], Roles]:
        """(present rows, roles) for ES minimum_should_match over
        :meth:`_query_terms` rows. A query that cannot reach its count
        — a required token absent from the corpus, or fewer matched
        terms than the count — is dropped here, so it matches
        nothing."""
        terms_of: dict[int, set[str]] = {}
        for qid, t, _i, _a in present:
            terms_of.setdefault(qid, set()).add(t)
        roles: Roles = {}
        for qid, text in queries:
            n = len(set(self._tokenize(text)))
            need = _min_match_count(min_match, n)
            terms = terms_of.get(qid, set())
            if need > len(terms):
                continue  # includes an `and` token missing from the corpus
            if one_field and need == n:
                roles[qid] = ({t: (True, False, 1) for t in terms}, 0)
            else:
                roles[qid] = ({t: (False, False, 1) for t in terms}, need)
        return [r for r in present if r[0] in roles], roles

    def _wand_run(
        self,
        meta: dict[str, dict],
        present: list[tuple],
        roles: Roles | None,
        n_queries: int,
        k: int,
        from_: int,
        n_ranges: int | None,
        search_after: dict[int, tuple[float, int]] | None,
        op: str,
    ) -> DataFrame:
        """The executor behind every WAND request: (query, term) rows
        and their cursor roles → the global page, answered on the
        coordinator or on Spark (see :meth:`topk_wand`)."""
        if not present:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        k_local = from_ + k  # pagination: page p needs the top from_+k
        volume = sum(meta[t]["df"] for _q, t, _i, _a in present)
        local = self._post_local_ok and all(
            _local_dir(p) is not None for _o, p in self.dirs
        )
        if local and volume <= self._COORDINATOR_MAX_POSTINGS:
            segs = self._segments_local(meta)
            if segs is not None:
                logger.debug(
                    "%s: %d queries, %d postings on the WAND coordinator",
                    op, n_queries, volume,
                )
                rows = self._wand_coordinator(
                    segs, present, k_local, from_, search_after, roles
                )
                return local_rows_df(self.spark, rows, schema=TOPK_SCHEMA)
        logger.debug(
            "%s: %d queries, %d postings on WAND Spark (local=%s)",
            op, n_queries, volume, local,
        )
        matched = self._attach_query_terms(self._pruned_postings(meta), present)
        if (n_ranges and n_ranges > 1) or len(self.dirs) > 1:
            # per-(query, dir, range) local top-k, global merge: a
            # doc's live contributions all sit in ONE (dir, range)
            # group, so the merge needs no re-summation
            partials = self._wand_partials(
                matched, k_local, n_ranges or 1, search_after, roles
            )
            est = n_queries * max(n_ranges or 1, 1) * len(self.dirs) * k_local
            if est <= self._LOCAL_MERGE_MAX:
                return self._merge_partials_local(partials, k_local, from_)
            from pyspark.sql import Window as W

            w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
            return (
                partials.withColumn("rank", F.row_number().over(w))
                .filter((F.col("rank") > from_) & (F.col("rank") <= k_local))
                .select("query_id", "rank", "doc_id", "score")
            )
        run = self._wand_group_kernel(k_local, after=search_after, roles=roles)
        out = matched.groupBy("query_id", "ord").applyInPandas(
            run, schema=TOPK_SCHEMA
        )
        return out.filter(F.col("rank") > from_) if from_ else out

    def _wand_group_kernel(
        self,
        k: int,
        ranged: bool = False,
        after: dict[int, tuple[float, int]] | None = None,
        roles: Roles | None = None,
    ):
        """applyInPandas kernel: one (query, dir[, range]) group →
        local WAND top-k over that group's segments. Tombstoned doc
        versions for the group's dir are masked out at scoring time."""
        k1, b, avgdl = self.cfg.k1, self.cfg.b, self.avgdl
        dead_by_ord = self._dead_by_ord

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(pdf["query_id"].iat[0])
            hits = _wand_group_hits(
                _entries_of_rows(pdf.to_dict("records")), k, k1, b, avgdl,
                int(pdf["bsz"].iat[0]),
                dead=dead_by_ord.get(int(pdf["ord"].iat[0])),
                after=None if after is None else after.get(qid),
                doc_lo=int(pdf["range_lo"].iat[0]) if ranged else None,
                doc_hi=int(pdf["range_hi"].iat[0]) if ranged else None,
                roles=None if roles is None else roles.get(qid),
            )
            out = {
                "query_id": np.full(len(hits), qid, dtype=np.int64),
                "rank": np.arange(1, len(hits) + 1, dtype=np.int32),
                "doc_id": np.array([d for d, _ in hits], dtype=np.int64),
                "score": np.array([s for _, s in hits], dtype=np.float64),
            }
            if ranged:
                out["range_id"] = np.full(
                    len(hits), int(pdf["range_id"].iat[0]), dtype=np.int32
                )
            return pd.DataFrame(out)

        return run

    # the coordinator bound: a topk_wand batch matching at most this
    # many postings (Σ live df over its (query, term) pairs) on an
    # all-local index runs on the driver — pyarrow-read segments, the
    # same WAND kernel, no Spark job; above it the Spark path runs
    # unchanged. Timed with tools/coordinator_crossover.py (table in
    # CHANGES.md; local[2] without n_ranges, local[4] with n_ranges=4):
    # the Spark side won at no measured size, up to the largest batch
    # timed (5.2M postings), so this is NOT a measured crossover but a
    # cap on the work and memory one request may put on the driver,
    # set at the top of the measured range. Where the crossover lies
    # is unverified above 5.2M postings, for other n_ranges and at
    # other core counts.
    _COORDINATOR_MAX_POSTINGS = 5_000_000

    def _segments_local(self, meta: dict[str, dict]) -> dict | None:
        """ord → pyarrow table of that dir's segments of the query
        terms, read on the driver (group-partition and term filter,
        one cached dataset per dir). A failed read returns None, is
        logged at DEBUG, and sends this engine's later batches straight
        to the Spark path."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        out = {}
        try:
            for o, p in self.dirs:
                terms_here = sorted(t for t, m in meta.items() if o in m["groups"])
                if not terms_here:
                    continue
                dset = self._post_ds.get(o)
                if dset is None:
                    dset = self._post_ds[o] = pads.dataset(
                        f"{_local_dir(p)}/postings", format="parquet",
                        partitioning="hive",
                    )
                groups = sorted({meta[t]["groups"][o] for t in terms_here})
                out[o] = dset.to_table(
                    columns=["term", *_SEG_COLS],
                    filter=pads.field("group").isin(groups)
                    & pads.field("term").isin(terms_here),
                )
        except (OSError, pa.ArrowException):
            logger.debug(
                "topk_wand: local postings read failed; Spark serves "
                "this engine from now on", exc_info=True,
            )
            self._post_local_ok = False
            return None
        return out

    def _wand_coordinator(
        self,
        segs_by_ord: dict,
        present: list[tuple],
        k_local: int,
        from_: int,
        after: dict[int, tuple[float, int]] | None,
        roles: Roles | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """The driver-side twin of the Spark WAND path over the
        segments :meth:`_segments_local` read: one WAND per
        (query, dir) with that dir's tombstones, and the per-dir pages
        merged like :meth:`_merge_partials_local`. Same kernel, same
        inputs, so rows and scores are identical to the Spark side."""
        k1, b = self.cfg.k1, self.cfg.b
        byq: dict[int, list[tuple[float, int]]] = {}
        for o, tbl in segs_by_ord.items():
            segs = _segments_by_term(tbl)
            entries_of: dict[int, list[dict]] = {}
            for qid, t, idf_v, avg in present:
                if t in segs:
                    entries_of.setdefault(qid, []).append(
                        {"term": t, "idf": idf_v, "avgdl": avg, "segments": segs[t]}
                    )
            bs = int(self._dir_stats[o].get("block_size") or 128)
            dead = self._dead_by_ord.get(o)
            for qid, entries in entries_of.items():
                hits = _wand_group_hits(
                    entries, k_local, k1, b, self.avgdl, bs, dead=dead,
                    after=None if after is None else after.get(qid),
                    roles=None if roles is None else roles.get(qid),
                )
                byq.setdefault(qid, []).extend((s, d) for d, s in hits)
        return _merge_pages(byq, k_local, from_)

    # the ES-coordinator merge bound: partial top-k lists up to this
    # many rows (k × ranges × dirs × queries — NEVER corpus-sized) are
    # merged driver-side, replacing the rank-window shuffle stage with
    # the coordinating-node reduce every distributed search engine
    # performs; beyond it the distributed WindowGroupLimit merge runs
    _LOCAL_MERGE_MAX = 50_000

    def _merge_partials_local(
        self, partials: DataFrame, k_local: int, from_: int
    ) -> DataFrame:
        """Global top-k from per-(query, dir, range) partial lists,
        merged on the driver. Ranges partition doc_ids and a doc's
        live contributions sit in one (dir, range) group, so the merge
        is a pure k-way ordered selection — same (score desc, doc_id
        asc) key, same rank filter, bit-identical rows to the window
        merge it replaces (scores pass through untouched)."""
        byq: dict[int, list[tuple[float, int]]] = {}
        for r in partials.select("query_id", "doc_id", "score").collect():
            byq.setdefault(r[0], []).append((r[2], r[1]))
        return local_rows_df(
            self.spark, _merge_pages(byq, k_local, from_), schema=TOPK_SCHEMA
        )

    def _doc_ranges(self, n_ranges: int) -> list[tuple[int, int, int]]:
        """(range_id, lo, hi_exclusive) splits of [min_doc, max_doc] —
        disjoint and covering, any int64 id domain."""
        lo, hi = self.min_doc, self.max_doc + 1
        span = hi - lo
        edges = [lo + (span * r) // n_ranges for r in range(n_ranges)] + [hi]
        return [
            (r, edges[r], edges[r + 1])
            for r in range(n_ranges)
            if edges[r] < edges[r + 1]
        ]

    def _ranged(self, matched: DataFrame, n_ranges: int) -> DataFrame:
        """Attach each overlapping doc-range to the matched segments,
        so a segment's bytes only reach the ranges its docs can fall
        in. The range table is :meth:`_doc_ranges` (computed on the
        driver in Python integers, exact for any int64 id span),
        inlined IN-PLAN as a literal array of structs with one
        filter/explode expression instead of a broadcast nested-loop
        join (no broadcast exchange, no build job; guide §2.4)."""
        arr = ", ".join(
            f"named_struct('range_id', {r}, 'range_lo', {lo}L, "
            f"'range_hi', {hi}L)"
            for r, lo, hi in self._doc_ranges(n_ranges)
        )
        r = (
            f"explode(filter(array({arr}), s -> first_doc < s.range_hi"
            f" AND element_at(block_last_doc, -1) >= s.range_lo))"
        )
        return matched.withColumn("_r", F.expr(r)).select(
            "*", "_r.range_id", "_r.range_lo", "_r.range_hi"
        ).drop("_r")

    def _wand_partials(
        self,
        matched: DataFrame,
        k: int,
        n_ranges: int,
        after: dict[int, tuple[float, int]] | None = None,
        roles: Roles | None = None,
    ) -> DataFrame:
        """Per-(query, dir, range) local WAND top-k rows (pre-merge)."""
        ranged = self._ranged(matched, n_ranges)
        run = self._wand_group_kernel(k, ranged=True, after=after, roles=roles)
        return ranged.groupBy("query_id", "ord", "range_id").applyInPandas(
            run, schema=TOPK_SCHEMA + ", range_id int"
        )

    @staticmethod
    def _parse_field_boost(f: str) -> tuple[str, float]:
        """ES ``field^boost`` syntax → (field, boost)."""
        name, _, b = f.partition("^")
        return name, (float(b) if b else 1.0)

    def multi_match(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        fields: list[str] | None = None,
        match_type: str = "best_fields",
        n_ranges: int | None = None,
        from_: int = 0,
        tie_breaker: float = 0.0,
        search_after: dict[int, tuple[float, int]] | None = None,
    ) -> DataFrame:
        """ES ``multi_match`` over a fielded index (the reference's
        mapping declares two analyzed fields — body and title,
        examples/mapping.json:11-12).

        ``best_fields`` (ES default, dis_max tie_breaker=0): a doc
        scores the MAX of its per-field BM25 scores. Exact at any
        scale: if a doc is in the global top-k with best field f, then
        fewer than k docs have a higher f-score, so the doc is in
        field f's own top-k — the global answer is contained in the
        union of per-field top-k lists, and the merge is one
        WindowGroupLimit over |fields|·k rows per query.

        ``most_fields``: the SUM of per-field scores — each
        (field, token) is an independent scoring term with its own
        idf/avgdl, so one WAND pass over the expanded term set
        computes it exactly (no second aggregation).

        Fields accept the ES ``field^boost`` syntax ("title^2"): the
        boost multiplies that field's idf at cursor level, so every
        path sees boosted contributions.

        ``tie_breaker`` (best_fields only, ES dis_max): score =
        max_f + tie_breaker·Σ(other fields). tie_breaker=0 keeps the
        union-of-per-field-top-k path (the containment argument needs
        pure max); tie_breaker>0 routes through a full
        (query, doc, field) aggregation — sums from every matching
        field are required, so the shape is one scan, two hash-aggs
        and a rank window, scores float-summed (not the pinned order;
        ranks agree except on knife-edge ties).

        ``search_after``: ES cursor pagination. most_fields rides the
        WAND kernels' exact in-kernel cursor; best_fields with a
        cursor routes through the FULL (query, doc, field) aggregation
        (the union-of-per-field-top-k containment argument bounds
        depth by k, which a cursor page can exceed) and rank-anchors
        (see :meth:`_rank_anchored_after`)."""
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
        parsed = [self._parse_field_boost(f) for f in (fields or self.fields)]
        use = [n for n, _ in parsed]
        boosts = {n: b for n, b in parsed}
        for f in use:
            self._resolve_field(f)
        if match_type == "most_fields":
            return self.topk_wand(
                queries, k=k, n_ranges=n_ranges, fields=use, from_=from_,
                field_boosts=boosts, search_after=search_after,
            )
        if match_type == "phrase":
            # ES multi_match type=phrase: one match_phrase per field
            # under the dis_max combine (max + tie_breaker·Σrest) —
            # routed through the bool machinery, so the phrase kernel
            # runs once per field over the FULL match set (exact at
            # any tie_breaker, unlike a union-of-top-k max merge)
            if search_after:
                raise ValueError(
                    "multi_match phrase does not take search_after"
                )
            trees = [
                (qid, {"must": [{"dis_max": {
                    "tie_breaker": tie_breaker,
                    "queries": [
                        {"match_phrase": {
                            "query": text, "field": f, "boost": b}}
                        for f, b in parsed
                    ],
                }}]})
                for qid, text in queries
            ]
            return self.bool_topk(trees, k=k, from_=from_)
        if match_type == "cross_fields":
            # ES multi_match type=cross_fields: term-centric blending —
            # every field variant of a bare token scores with the MAX
            # df across fields (blend_df, the Lucene BlendedTermQuery),
            # per-token score = max over fields (+ tie_breaker·Σrest),
            # doc score = Σ over tokens. One scan, two hash-aggs.
            if search_after:
                raise ValueError(
                    "multi_match cross_fields does not take search_after"
                )
            matched = self._matched_segments(
                queries, fields=use, field_boosts=boosts, blend_df=True
            )
            if matched is None:
                return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
            contribs = matched.mapInPandas(
                _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
                schema=CONTRIB_SCHEMA,
            )
            per_tok = (
                contribs.withColumn(
                    "tok", F.substring_index(F.col("term"), ":", -1)
                )
                .groupBy("query_id", "doc_id", "tok")
                .agg(F.max("contrib").alias("mx"),
                     F.sum("contrib").alias("sm"))
                .withColumn(
                    "tscore",
                    F.col("mx")
                    + F.lit(float(tie_breaker)) * (F.col("sm") - F.col("mx")),
                )
            )
            best = per_tok.groupBy("query_id", "doc_id").agg(
                F.sum("tscore").alias("score")
            )
            from pyspark.sql import Window as W

            wx = W.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                best.withColumn("rank", F.row_number().over(wx))
                .filter((F.col("rank") > from_)
                        & (F.col("rank") <= from_ + k))
                .select("query_id", "rank", "doc_id", "score")
            )
        if match_type != "best_fields":
            raise ValueError(f"unsupported multi_match type {match_type!r}")
        from pyspark.sql import Window as W

        k_local = from_ + k
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        if tie_breaker > 0.0 or search_after:
            matched = self._matched_segments(
                queries, fields=use, field_boosts=boosts
            )
            if matched is None:
                return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
            contribs = matched.mapInPandas(
                _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
                schema=CONTRIB_SCHEMA,
            )
            # term keys are "<field>:<token>" on fielded indexes, so
            # the per-field partial sum needs no extra metadata
            per_field = (
                contribs.withColumn(
                    "fld", F.substring_index(F.col("term"), ":", 1)
                )
                .groupBy("query_id", "doc_id", "fld")
                .agg(F.sum("contrib").alias("fscore"))
            )
            best = per_field.groupBy("query_id", "doc_id").agg(
                (
                    F.max("fscore")
                    + F.lit(float(tie_breaker))
                    * (F.sum("fscore") - F.max("fscore"))
                ).alias("score")
            )
        else:
            # union-of-per-field-top-k, computed from ONE postings scan
            # + ONE WAND kernel pass: synthetic per-(query, field) ids
            # keep kernel groups field-pure (the containment argument
            # needs per-field top-k), then the ids are divided back and
            # the dis_max merge takes the max per doc. Same rows and
            # scores as one topk_wand per field, half the plan.
            nf = len(use)
            syn = self._matched_segments(
                queries, fields=use, field_boosts=boosts,
                per_field_qids=True,
            )
            if syn is None:
                return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
            ranged = (n_ranges and n_ranges > 1) or len(self.dirs) > 1
            est = (
                len(queries) * nf * max(n_ranges or 1, 1)
                * len(self.dirs) * k_local
            )
            if est <= self._LOCAL_MERGE_MAX:
                # ES-coordinator merge: the per-(field, dir, range)
                # top-k_local partial lists are k-sized pages — merge
                # them driver-side (truncate per field, dis_max per
                # doc, re-rank), replacing three post-kernel shuffle
                # stages with the coordinating-node reduce
                if ranged:
                    src = self._wand_partials(syn, k_local, n_ranges or 1, None)
                else:
                    src = syn.groupBy("query_id", "ord").applyInPandas(
                        self._wand_group_kernel(k_local), schema=TOPK_SCHEMA
                    )
                bysyn: dict[int, list[tuple[float, int]]] = {}
                for r in src.select("query_id", "doc_id", "score").collect():
                    bysyn.setdefault(r[0], []).append((r[2], r[1]))
                best_of: dict[int, dict[int, float]] = {}
                for sq, lst in bysyn.items():
                    lst.sort(key=lambda sd: (-sd[0], sd[1]))
                    qd = best_of.setdefault(sq // nf, {})
                    for s, d in lst[:k_local]:
                        if d not in qd or s > qd[d]:
                            qd[d] = s
                rows = []
                for qid in sorted(best_of):
                    hits = sorted(
                        best_of[qid].items(), key=lambda ds: (-ds[1], ds[0])
                    )
                    for rank in range(from_ + 1, min(k_local, len(hits)) + 1):
                        d, s = hits[rank - 1]
                        rows.append((qid, rank, d, s))
                return local_rows_df(self.spark, rows, schema=TOPK_SCHEMA)
            wsyn = W.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            if ranged:
                page = (
                    self._wand_partials(syn, k_local, n_ranges or 1, None)
                    .withColumn("rank", F.row_number().over(wsyn))
                    .filter(F.col("rank") <= k_local)
                )
            else:
                page = syn.groupBy("query_id", "ord").applyInPandas(
                    self._wand_group_kernel(k_local), schema=TOPK_SCHEMA
                )
            allp = page.withColumn(
                "query_id", F.floor(F.col("query_id") / nf).cast("long")
            )
            best = allp.groupBy("query_id", "doc_id").agg(
                F.max("score").alias("score")
            )
        if search_after:
            best = self._rank_anchored_after(best, w, search_after)
        return (
            best.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= k_local))
            .select("query_id", "rank", "doc_id", "score")
        )

    _BOOL_ROLES = ("must", "should", "must_not", "filter")
    _STRUCTURED_KINDS = ("term", "terms", "range", "exists", "match")

    @staticmethod
    def _sql_lit(v) -> str:
        """A Python literal as Spark SQL text, typed like ``F.lit``
        types it (L/D suffixes; repr round-trips doubles; a non-finite
        double, which has no literal form, as a cast)."""
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, numbers.Integral):
            return f"{int(v)}L"
        if isinstance(v, numbers.Real):
            v = float(v)
            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if math.isinf(v):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            return f"{v!r}D"
        if isinstance(v, str):
            return _sql_str(v)
        if isinstance(v, datetime.datetime):
            return f"TIMESTAMP {_sql_str(v.isoformat(sep=' '))}"
        if isinstance(v, datetime.date):
            return f"DATE {_sql_str(v.isoformat())}"
        raise ValueError(
            f"unsupported filter value {v!r} ({type(v).__name__})"
        )

    @staticmethod
    def _sql_ident(c) -> str:
        return "`" + str(c).replace("`", "``") + "`"

    @classmethod
    def _leaf_pred_sql(cls, kind: str, spec: dict, ref, where: str) -> str | None:
        """A term/terms/range/exists clause as SQL over the column
        reference ``ref(name)``; None for any other kind. ``where``
        prefixes the range errors."""
        if kind == "term":
            (c, v), = spec.items()
            return f"({ref(c)} = {cls._sql_lit(v)})"
        if kind == "terms":
            (c, vs), = spec.items()
            lits = [cls._sql_lit(v) for v in vs]
            return f"({ref(c)} IN ({', '.join(lits)}))" if lits else "false"
        if kind == "range":
            (c, bounds), = spec.items()
            ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
            bad = set(bounds) - set(ops)
            if bad:
                raise ValueError(
                    f"{where}range on {c!r}: unknown bound(s) {sorted(bad)}"
                )
            if not bounds:
                raise ValueError(f"{where}range on {c!r}: no bounds given")
            return "(" + " AND ".join(
                f"{ref(c)} {ops[b]} {cls._sql_lit(v)}"
                for b, v in bounds.items()
            ) + ")"
        if kind == "exists":
            return f"({ref(spec['field'])} IS NOT NULL)"
        return None

    @classmethod
    def _structured_pred_sql(cls, clause: dict) -> str:
        """One ES structured filter clause → a SQL predicate over the
        stored doc values (``F.expr`` it where a Column is needed):
        {"term": {col: v}}, {"terms": {col: [v…]}}, {"range": {col:
        {gte/gt/lte/lt: v}}}, {"exists": {"field": col}}, {"nested":
        {"path": p, "query": q}}. Values compare with the stored
        column's own type (a string bound against a timestamp/date
        column coerces, the ES format-driven behaviour)."""
        (kind, spec), = clause.items()
        if kind == "nested":
            bad = set(spec) - {"path", "query"}
            if bad or not ({"path", "query"} <= set(spec)):
                raise ValueError(
                    f"nested takes path + query, got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            path = str(spec["path"])
            elem = cls._nested_elem_sql(path, spec["query"])
            # null / empty array → no element matches (ES: no nested
            # docs under the parent)
            return f"coalesce(exists({cls._sql_ident(path)}, x -> {elem}), false)"
        pred = cls._leaf_pred_sql(kind, spec, cls._sql_ident, "")
        if pred is None:
            raise ValueError(
                f"unknown structured filter kind {kind!r}; expected one of "
                f"{cls._STRUCTURED_KINDS}"
            )
        return pred

    @classmethod
    def _nested_elem_sql(cls, path: str, spec) -> str:
        """Inner query of a ``nested`` clause → a SQL predicate over
        one array element, the lambda variable ``x`` of the caller's
        higher-order function. Field names accept the ES full path
        (``path.sub``) or the bare sub-field; dotted sub-paths walk
        nested structs. Kinds: term/terms/range/exists + bool trees of
        those; text kinds raise (see :class:`_BoolNested`)."""
        if not (isinstance(spec, dict) and len(spec) == 1):
            raise ValueError(
                f"nested inner query must be a single-key dict, got {spec!r}"
            )
        strip = path + "."

        def ref(c) -> str:
            c = str(c)
            c = c[len(strip):] if c.startswith(strip) else c
            return "x." + ".".join(cls._sql_ident(p) for p in c.split("."))

        (kind, s), = spec.items()
        if kind == "bool":
            bad = set(s) - {"must", "should", "must_not", "filter",
                            "minimum_should_match"}
            if bad:
                raise ValueError(
                    f"nested inner bool: unknown key(s) {sorted(bad)}"
                )
            roles = {
                r: [f"coalesce({cls._nested_elem_sql(path, c)}, false)"
                    for c in (s.get(r) if isinstance(s.get(r), (list, tuple))
                              else [s[r]] if s.get(r) is not None else [])]
                for r in ("must", "should", "must_not", "filter")
            }
            if not any(roles.values()):
                raise ValueError("empty nested inner bool")
            msm = s.get("minimum_should_match")
            need = (_min_match_count(msm, len(roles["should"]))
                    if msm is not None and roles["should"]
                    else (0 if (roles["must"] or roles["filter"])
                          else (1 if roles["should"] else 0)))
            parts = roles["must"] + roles["filter"]
            parts += [f"(NOT {p})" for p in roles["must_not"]]
            if need > 0:
                cnt = " + ".join(f"cast({p} as int)" for p in roles["should"])
                parts.append(f"(({cnt}) >= {need})")
            return "(" + " AND ".join(parts) + ")" if parts else "true"
        pred = cls._leaf_pred_sql(kind, s, ref, "nested ")
        if pred is None:
            raise ValueError(
                f"nested inner queries support term/terms/range/exists/bool "
                f"(the reference's nested sub-properties are unanalyzed — "
                f"mapping.json:5-9), got {kind!r}"
            )
        return pred

    def bool_topk(
        self,
        queries: list[tuple[int, dict]],
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
        docs: DataFrame | None = None,
        search_after: dict[int, tuple[float, int]] | None = None,
        track_total_hits: bool = False,
    ) -> DataFrame:
        """ES ``bool`` query over term clauses. Each query is
        ``(query_id, {"must": text, "should": text, "must_not": text,
        "filter": text})`` — every TOKEN of a clause text is one term
        clause of that occurrence type (``must: "hash join"`` ≙ two
        must term clauses, ES ``operator: and`` inside the clause):

        - ``must``: every token required; contributes BM25 score.
        - ``should``: optional; contributes score. With no
          must/filter clauses, at least one should token must match
          (the ES default ``minimum_should_match`` behaviour).
        - ``filter``: every token required; NO score contribution
          (the ES filter context — a filter-only bool scores 0).
        - ``must_not``: any token present excludes the doc; no score.

        ``filter`` also accepts a LIST mixing analyzed and STRUCTURED
        clauses over stored doc values (``IndexConfig(stored_fields=
        ...)`` or an explicit ``docs`` DataFrame) — the ES keyword/
        date/numeric filter context the reference mapping declares
        (examples/mapping.json:10,13 — a not_analyzed id and a
        formatted date)::

            {"must": "hash join",
             "filter": [{"term": {"lang": "en"}},
                        {"range": {"n_chars": {"gte": 100, "lt": 5000}}},
                        {"match": "spark"}]}

        Structured kinds: ``term`` (equality), ``terms`` (isin),
        ``range`` (gte/gt/lte/lt), ``exists``; ``{"match": text}``
        tokens behave exactly like string-filter tokens. A query with
        ONLY structured filters is ES match_all + filter: every live
        doc satisfying the predicates, score 0 (ranked by doc_id) —
        corpus-scan shaped by design, bounded by filter selectivity
        and the top-k window, nothing collected.

        Scale shape of the structured path: the doc-values projection
        is pre-filtered with the OR of every query's predicate (a
        pushed parquet filter), then joined to the (query_id, doc_id)
        match set on doc_id and checked per-query — one extra
        shuffle-join against a column-pruned scan, no new driver
        state.

        Where it runs: a batch whose specs are ALL flat and text-only
        (role → token string; ``filter`` a string or a list of
        ``{"match": text}`` clauses; no ``track_total_hits``) is
        answered by the WAND executor behind
        :meth:`topk_wand` — on the coordinator or on Spark by posting
        volume — with must/filter terms as required cursors, must_not
        terms as excluded cursors and should terms as optional ones;
        scores are then the pinned term-lexicographic sum. Any other
        batch takes the hash-aggregate path: the one bool compiler,
        :meth:`_bool_tree_match_set`, with each flat spec first
        rewritten to the equivalent tree (every token one clause; a
        filter ``{"match": text}`` an ``operator: and`` clause). One
        postings scan covers every clause of every query, non-scoring
        clauses priced at idf 0; one JVM hash-agg on (query_id,
        doc_id) yields per-clause matched counts and sums, and each
        tree evaluates as SQL over them. A must/filter token absent
        from the whole corpus matches nothing (ES semantics). Scale
        shape: literal (or broadcast) query table, term+group-pruned
        scans, one shuffle on (query_id, doc_id), WindowGroupLimit
        top-k.

        RICH specs (see :func:`_is_rich_bool`)
        extend the clause model to real ES body shapes: role values as
        CLAUSE LISTS whose elements are ``{"match": text | {"query":
        ..., "field": f, "boost": b, "operator": "and"|"or"}}``
        (per-clause OR-match, the ES default — a multi-token match
        clause requires ANY of its tokens, not all), nested
        ``{"bool": {...}}`` sub-trees, structured clauses in any role,
        and bool-level ``minimum_should_match`` (int or ES percentage)
        + ``boost``. See :meth:`_bool_tree_match_set` for semantics
        and the one-scan/one-agg scale shape.

        ``search_after``: ES cursor pagination. On the WAND executor
        the cursor is an EXACT (score, doc_id) sort key (the pinned
        sums are bit-stable across calls), filtered inside the kernel;
        on the hash-aggregate path it is rank-anchored on the cursor
        doc (engine-ordered float sums must not rely on bit-equal
        re-summation). Ranks restart at 1 either way.

        ``track_total_hits``: adds a ``total`` column — the FULL
        match-set size per query (the ES hits.total) — computed by an
        unordered count window over the SAME query_id partitioning as
        the rank window, so it costs no extra shuffle."""
        from pyspark.sql import Window as W

        if not track_total_hits and all(
            _is_flat_text_bool(c) for _, c in queries
        ):
            meta, present, roles = self._flat_bool_roles(queries, field)
            return self._wand_run(
                meta, present, roles, len(queries), k, from_, None,
                search_after, "bool_topk",
            )
        logger.debug("bool_topk: %d queries on the hash-agg path", len(queries))
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            out = local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
            if track_total_hits:
                out = out.withColumn("total", F.lit(0).cast("long"))
            return out
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        if search_after:
            hits = self._rank_anchored_after(hits, w, search_after)
        cols = ["query_id", "rank", "doc_id", "score"]
        if "matched_queries" in hits.columns:
            cols.append("matched_queries")
        if track_total_hits:
            hits = hits.withColumn(
                "total",
                F.count("*").over(W.partitionBy("query_id")).cast("long"),
            )
            cols.append("total")
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
            .select(*cols)
        )

    def terms_set_topk(
        self,
        queries: list[tuple[int, dict]],
        k: int = 10,
        field: str | None = None,
        docs: DataFrame | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES ``terms_set`` query: a doc matches when it contains at
        least ``minimum_should_match_field``(doc) of the supplied
        terms — the per-doc threshold is a STORED DOC VALUE, not a
        literal. Each query is ``(query_id, {"terms": [...],
        "minimum_should_match_field": column})``; scores are the
        ordinary BM25 sum of the matched terms (the ES bool-should
        scoring).

        Scale shape: one postings scan and one (query_id, doc_id)
        hash-agg (every term a should clause — the matched count
        rides the same agg row as the score), then ONE
        column-pruned doc-values join compares the count against the
        doc's own threshold. Thresholds clamp to ≥1 — a zero/negative
        threshold would be ES match_all (an unbounded corpus scan;
        Lucene's CoveringQuery floors the same way). Docs whose
        threshold exceeds the matched count never match (ES);
        corpus-absent terms contribute nothing to the count (ES)."""
        from pyspark.sql import Window as W

        fld = self._resolve_field(field)
        avg = self._avgdl_of(fld)
        rows: list[tuple[int, str]] = []
        msm_of: dict[int, str] = {}
        for qid, spec in queries:
            bad = set(spec) - {"terms", "minimum_should_match_field"}
            if bad or not ({"terms", "minimum_should_match_field"}
                           <= set(spec)):
                raise ValueError(
                    f"query {qid}: terms_set takes terms + "
                    f"minimum_should_match_field, got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            terms = sorted({str(t).lower() for t in spec["terms"]})
            if not terms:
                raise ValueError(f"query {qid}: terms_set needs terms")
            msm_of[int(qid)] = str(spec["minimum_should_match_field"])
            for t in terms:
                rows.append((int(qid), self._term_of(t, fld)))
        meta = self._term_meta(sorted({t for _, t in rows}))
        present = [
            (qid, t, _idf(self.n_docs, meta[t]["df"]), avg)
            for qid, t in rows
            if t in meta and meta[t]["df"] > 0
        ]
        if not present:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        # (query_id, term, doc_id) rows are unique (the decode kernel
        # dead-masks superseded versions), so the row count is the
        # matched-term count
        agg = (
            self._attach_query_terms(self._pruned_postings(meta), present)
            .mapInPandas(
                _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
                schema=CONTRIB_SCHEMA,
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum("contrib").alias("score"),
                F.count("*").alias("should_m"),
            )
        )
        cols = sorted(set(msm_of.values()))
        dv = (docs.select("doc_id", *cols) if docs is not None
              else self._doc_values(cols))
        case = None
        for qid, c in sorted(msm_of.items()):
            case = (F.when(F.col("query_id") == qid, F.col(c))
                    if case is None
                    else case.when(F.col("query_id") == qid, F.col(c)))
        hits = (
            agg.join(dv, "doc_id")
            .filter(
                F.col("should_m")
                >= F.greatest(case.cast("long"), F.lit(1))
            )
            .select("query_id", "doc_id", "score")
        )
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
            .select("query_id", "rank", "doc_id", "score")
        )

    def bool_aggs(
        self,
        queries: list[tuple[int, dict]],
        group_by: str | tuple[str, float] | tuple[str, str],
        metrics: dict[str, tuple[str, str]] | None = None,
        field: str | None = None,
        docs: DataFrame | None = None,
        size: int | None = None,
    ) -> DataFrame:
        """ES FILTERED aggregations — the standard ES analytics shape:
        a bool query (text clauses AND the structured filter context)
        bounds the match set, and the terms/histogram/date_histogram
        bucket agg with metric sub-aggs runs over that FULL match set
        (see :meth:`search_aggs` for bucket semantics and the scale
        shape; the match set here comes from the same one-scan bool
        machinery as :meth:`bool_topk`, including RICH nested-tree
        specs — see :meth:`_bool_tree_match_set`)."""
        metrics = metrics or {}
        self._check_metrics(metrics)
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        return self._bucket_agg(
            hits.select("query_id", "doc_id"), group_by, metrics, docs, size
        )

    def global_aggs(
        self,
        group_by,
        metrics: dict | None = None,
        docs: DataFrame | None = None,
        size: int | None = None,
    ) -> DataFrame:
        """ES ``global`` aggregation: the bucket agg runs over EVERY
        live doc, ignoring any query — exactly one column-pruned scan
        of the docs tables (the postings are never touched), then the
        shared bucket-agg tail. Corpus-bound by definition; the output
        stays bucket-sized."""
        metrics = metrics or {}
        self._check_metrics(metrics)
        src = docs if docs is not None else self._doc_values(["doc_id"])
        hits = src.select(
            F.lit(0).cast("long").alias("query_id"), "doc_id"
        )
        return self._bucket_agg(hits, group_by, metrics, docs, size)

    def sampler_aggs(
        self,
        queries: list[tuple[int, dict]],
        group_by,
        metrics: dict | None = None,
        shard_size: int = 100,
        field: str | None = None,
        docs: DataFrame | None = None,
        size: int | None = None,
    ) -> DataFrame:
        """ES ``sampler`` aggregation: the bucket agg runs over the
        top-``shard_size`` BEST-SCORING docs per query instead of the
        full match set (the ES way to bound agg cost on huge match
        sets — here one top-k page via the ordinary bool machinery,
        then the shared bucket-agg tail over ≤ queries×shard_size
        rows). ES samples per shard; a single logical sample is the
        single-index equivalent — documented deviation."""
        metrics = metrics or {}
        self._check_metrics(metrics)
        page = self.bool_topk(queries, k=int(shard_size), field=field,
                              docs=docs)
        return self._bucket_agg(
            page.select("query_id", "doc_id"), group_by, metrics, docs, size
        )

    def _flat_bool_tokens(
        self, qid: int, clauses: dict
    ) -> tuple[dict[str, list[str]], list[dict]]:
        """One legacy flat bool spec → (role → sorted distinct tokens,
        structured filter clauses), validated: unknown roles, a token
        in must_not and a positive role, and a must_not-only spec
        raise ``ValueError``."""
        bad = set(clauses) - set(self._BOOL_ROLES)
        if bad:
            raise ValueError(
                f"unknown bool clause(s) {sorted(bad)}; "
                f"expected {self._BOOL_ROLES}"
            )
        fval = clauses.get("filter")
        sclauses: list[dict] = []
        if isinstance(fval, (list, tuple)):
            ftext_parts = []
            for cl in fval:
                if not (isinstance(cl, dict) and len(cl) == 1):
                    raise ValueError(
                        f"query {qid}: each filter clause must be a "
                        f"single-key dict, got {cl!r}"
                    )
                if "match" in cl:
                    ftext_parts.append(cl["match"])
                else:
                    self._structured_pred_sql(cl)  # validate kind/bounds
                    sclauses.append(cl)
            ftext = " ".join(ftext_parts)
        else:
            ftext = fval or ""
        toks = {
            r: sorted(set(self._tokenize(clauses.get(r, "") or "")))
            for r in ("must", "should", "must_not")
        }
        toks["filter"] = sorted(set(self._tokenize(ftext)))
        # a token may appear in several POSITIVE roles at once
        # (ES: must+should double-scores it, must+filter scores it
        # once and requires it twice over — both reproduced by the
        # per-clause sum in the tree compiler and by the WAND cursor weight);
        # only must_not beside a positive role is contradictory
        contradictory = set(toks["must_not"]) & (
            set(toks["must"]) | set(toks["should"]) | set(toks["filter"])
        )
        if contradictory:
            raise ValueError(
                f"query {qid}: token(s) {sorted(contradictory)} appear in "
                "must_not AND a positive clause — a doc can't both "
                "require and exclude the same term"
            )
        has_text = bool(toks["must"] or toks["should"] or toks["filter"])
        if toks["must_not"] and not has_text and not sclauses:
            raise ValueError(
                f"query {qid}: must_not-only bool is ES match_all minus "
                "exclusions — an unbounded corpus scan; add a must/"
                "should/filter clause to bound the match set"
            )
        return toks, sclauses

    def _flat_bool_roles(
        self, queries: list[tuple[int, dict]], field: str | None
    ) -> tuple[dict[str, dict], list[tuple], Roles]:
        """(meta, present rows, roles) of flat text-only bool specs
        for :meth:`_wand_run`: must and filter terms are required,
        must_not terms excluded, and a term adds its score once per
        scoring role it holds (must, should) — filter and must_not
        terms carry idf 0. A query with a must/filter term absent from
        the corpus is dropped, so it matches nothing; absent should or
        must_not terms are ignored."""
        fld = self._resolve_field(field)
        avg = self._avgdl_of(fld)
        parsed = []
        for qid, clauses in queries:
            toks, _ = self._flat_bool_tokens(qid, clauses)
            parsed.append((qid, {
                r: {self._term_of(t, fld) for t in ts} for r, ts in toks.items()
            }))
        terms = sorted({t for _, by in parsed for ts in by.values() for t in ts})
        meta = self._term_meta(terms) if terms else {}
        present: list[tuple] = []
        roles: Roles = {}
        for qid, by in parsed:
            required = by["must"] | by["filter"]
            live = {
                t for ts in by.values() for t in ts
                if t in meta and meta[t]["df"] > 0
            }
            if not required <= live:
                continue
            term_roles = {}
            for t in sorted(live):
                weight = (t in by["must"]) + (t in by["should"])
                term_roles[t] = (t in required, t in by["must_not"], weight)
                idf = _idf(self.n_docs, meta[t]["df"]) if weight else 0.0
                present.append((qid, t, idf, avg))
            roles[qid] = (term_roles, 0)
        return meta, present, roles

    def _flat_bool_tree(self, qid: int, clauses: dict) -> dict | None:
        """A legacy flat bool spec → the equivalent tree spec for
        :meth:`_bool_tree_match_set`, validated by
        :meth:`_flat_bool_tokens` first (its errors stand). Role token
        strings carry over unchanged (the tree compiles one
        single-token clause per token); a filter list's
        ``{"match": text}`` keeps its all-tokens-required meaning as
        an ``operator: and`` match; structured filters pass through.
        Should tokens beside no must/filter token need one match, even
        next to structured filters. None when the spec holds no token
        and no structured clause: it matches nothing."""
        toks, sclauses = self._flat_bool_tokens(qid, clauses)
        if not (any(toks.values()) or sclauses):
            return None
        tree = {
            r: clauses[r] for r in ("must", "should", "must_not")
            if clauses.get(r)
        }
        fval = clauses.get("filter")
        if isinstance(fval, (list, tuple)):
            tree["filter"] = [
                cl if "match" not in cl
                else {"match": {"query": cl["match"], "operator": "and"}}
                for cl in fval
                if "match" not in cl or self._tokenize(cl["match"])
            ]
        elif fval:
            tree["filter"] = fval
        if toks["should"] and not (toks["must"] or toks["filter"]):
            # flat specs count only text clauses here: beside nothing
            # but structured filters, one should token stays required
            tree["minimum_should_match"] = 1
        return tree

    @staticmethod
    def _clause_col(clause: dict) -> str:
        (kind, spec), = clause.items()
        if kind == "exists":
            return spec["field"]
        if kind == "nested":
            return spec["path"]
        (c, _), = spec.items()
        return c

    # -- nested bool trees (rich spec) ---------------------------------------

    def _compile_bool_node(
        self, spec: dict, scoring: bool, default_field: str | None,
        leaves: list, structs: list,
    ) -> _BoolNode:
        """Rich bool spec → clause tree. ``leaves``/``structs`` are the
        BATCH-global collectors (leaf clause ids index the per-clause
        aggregation columns). ``scoring`` propagates the ES filter
        context: everything under filter/must_not scores 0."""
        bad = set(spec) - {"must", "should", "must_not", "filter",
                           "minimum_should_match", "boost", "_name"}
        if bad:
            raise ValueError(f"unknown bool key(s) {sorted(bad)}")
        node = _BoolNode()
        node.boost = float(spec.get("boost", 1.0))
        node.msm = spec.get("minimum_should_match")
        node.name = spec.get("_name")
        for role in ("must", "should", "must_not", "filter"):
            v = spec.get(role)
            if v is None:
                continue
            child_scoring = scoring and role in ("must", "should")
            children = []
            if isinstance(v, str):
                # legacy token string: one single-token clause per
                # distinct token (every token required/excluded),
                # analyzed once
                for t in sorted(set(self._tokenize(v))):
                    children.append(self._match_leaf(
                        [t], {}, child_scoring, default_field, leaves
                    ))
            else:
                for cl in (v if isinstance(v, (list, tuple)) else [v]):
                    children.append(self._compile_bool_clause(
                        cl, child_scoring, default_field, leaves, structs,
                    ))
            setattr(node, role, children)
        if not (node.must or node.should or node.filter):
            raise ValueError(
                "bool node needs at least one must/should/filter clause "
                "(a must_not-only bool is ES match_all minus exclusions — "
                "an unbounded corpus scan)"
            )
        return node

    def _match_leaf(
        self, toks: list[str], opts: dict, scoring: bool,
        default_field: str | None, leaves: list,
    ) -> _BoolLeaf:
        """A text match clause over analyzed tokens → a leaf with the
        next clause id (``opts``: field/boost/operator/_name)."""
        fld = self._resolve_field(opts.get("field", default_field))
        leaf = _BoolLeaf(
            cid=len(leaves),
            terms=[self._term_of(t, fld) for t in toks],
            op_and=str(opts.get("operator", "or")).lower() == "and",
            boost=float(opts.get("boost", 1.0)),
            scoring=scoring,
            field=fld,
            name=opts.get("_name"),
        )
        leaves.append(leaf)
        return leaf

    def _compile_bool_clause(
        self, cl, scoring: bool, default_field: str | None,
        leaves: list, structs: list,
    ):
        if not (isinstance(cl, dict) and len(cl) == 1):
            raise ValueError(
                f"each bool clause must be a single-key dict, got {cl!r}"
            )
        (kind, spec), = cl.items()
        if kind == "bool":
            return self._compile_bool_node(
                spec, scoring, default_field, leaves, structs
            )
        if kind == "match":
            opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
            bad = set(opts) - {"query", "field", "boost", "operator",
                               "_name"}
            if bad or "query" not in opts:
                raise ValueError(
                    f"match clause supports query/field/boost/operator/"
                    f"_name, got {sorted(bad) or 'no query'}"
                )
            toks = sorted(set(self._tokenize(opts["query"])))
            if not toks:
                raise ValueError("empty match clause")
            return self._match_leaf(toks, opts, scoring, default_field, leaves)
        if kind == "match_phrase":
            opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
            bad = set(opts) - {"query", "field", "boost", "slop", "_name"}
            if bad or "query" not in opts:
                raise ValueError(
                    f"match_phrase clause supports query/field/boost/slop/"
                    f"_name, got {sorted(bad) or 'no query'}"
                )
            fld = self._resolve_field(opts.get("field", default_field))
            if not self._tokenize(opts["query"]):
                raise ValueError("empty match_phrase clause")
            leaf = _BoolPhrase(
                cid=len(leaves),
                text=opts["query"],
                slop=int(opts.get("slop", 0)),
                boost=float(opts.get("boost", 1.0)),
                scoring=scoring,
                field=fld,
                name=opts.get("_name"),
            )
            leaves.append(leaf)
            return leaf
        if kind in ("term", "terms", "range", "exists"):
            self._structured_pred_sql(cl)  # validate kind/bounds
            s = _BoolStruct(cl)
            structs.append(s)
            return s
        if kind == "nested":
            bad = set(spec) - {"path", "query", "score_mode", "boost",
                               "_name"}
            if bad or not ({"path", "query"} <= set(spec)):
                raise ValueError(
                    f"nested takes path + query (+score_mode, boost, "
                    f"_name), got {sorted(bad) or sorted(spec)}"
                )
            mode = str(spec.get("score_mode", "avg"))
            if mode not in ("avg", "max", "sum", "none"):
                raise ValueError(
                    f"nested score_mode must be avg/max/sum/none, got "
                    f"{mode!r}"
                )
            path = str(spec["path"])
            # validate the inner query compiles (raises on text kinds)
            self._nested_elem_sql(path, spec["query"])
            nn = _BoolNested(
                path=path, inner=spec["query"], score_mode=mode,
                boost=float(spec.get("boost", 1.0)), scoring=scoring,
                name=spec.get("_name"),
            )
            structs.append(nn)
            return nn
        if kind == "rank_feature":
            bad = set(spec) - {"field", "boost", "saturation", "log",
                               "sigmoid", "_name"}
            fns = sorted({"saturation", "log", "sigmoid"} & set(spec))
            if bad or "field" not in spec or len(fns) != 1:
                raise ValueError(
                    "rank_feature takes field + exactly one of saturation/"
                    "log/sigmoid (+boost) — parameters are required (ES's "
                    f"auto-pivot is cluster state), got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            fn = fns[0]
            fspec = dict(spec[fn] or {})
            want = {"saturation": {"pivot"},
                    "log": {"scaling_factor"},
                    "sigmoid": {"pivot", "exponent"}}[fn]
            if set(fspec) != want:
                raise ValueError(
                    f"rank_feature {fn} takes exactly {sorted(want)}, got "
                    f"{sorted(fspec)}"
                )
            rf = _BoolRankFeature(
                column=str(spec["field"]), fn=fn,
                params={k2: float(v) for k2, v in fspec.items()},
                boost=float(spec.get("boost", 1.0)), scoring=scoring,
                name=spec.get("_name"),
            )
            if rf.params.get("pivot", 1.0) <= 0 or (
                    rf.params.get("scaling_factor", 1.0) <= 0):
                raise ValueError("rank_feature parameters must be positive")
            structs.append(rf)
            return rf
        if kind == "dis_max":
            bad = set(spec) - {"queries", "tie_breaker", "boost", "_name"}
            if bad or not spec.get("queries"):
                raise ValueError(
                    f"dis_max takes queries (+tie_breaker, boost), got "
                    f"{sorted(bad) or 'no queries'}"
                )
            node = _BoolNode()
            node.kind = "dis_max"
            node.name = spec.get("_name")
            node.boost = float(spec.get("boost", 1.0))
            node.tie_breaker = float(spec.get("tie_breaker", 0.0))
            if not 0.0 <= node.tie_breaker <= 1.0:
                raise ValueError("tie_breaker must be in [0, 1]")
            # children live in the should slot: matched = any child
            # (need_should() → 1), only the score combiner differs
            node.should = [
                self._compile_bool_clause(
                    c, scoring, default_field, leaves, structs
                )
                for c in spec["queries"]
            ]
            return node
        if kind == "constant_score":
            bad = set(spec) - {"filter", "boost", "_name"}
            if bad or "filter" not in spec:
                raise ValueError(
                    f"constant_score takes filter (+boost), got "
                    f"{sorted(bad) or 'no filter'}"
                )
            node = _BoolNode()
            node.kind = "constant_score"
            node.name = spec.get("_name")
            node.boost = float(spec.get("boost", 1.0))
            node.scoring = scoring
            # the wrapped clause is ES filter context: never scores,
            # only gates the match — exactly the multi-term rewrite
            node.filter = [self._compile_bool_clause(
                spec["filter"], False, default_field, leaves, structs
            )]
            return node
        if kind == "boosting":
            bad = set(spec) - {"positive", "negative", "negative_boost",
                               "_name"}
            if bad or "positive" not in spec or "negative" not in spec:
                raise ValueError(
                    "boosting takes positive + negative (+negative_boost), "
                    f"got {sorted(bad) or sorted(spec)}"
                )
            node = _BoolNode()
            node.kind = "boosting"
            node.name = spec.get("_name")
            node.negative_boost = float(spec.get("negative_boost", 0.5))
            if not 0.0 <= node.negative_boost <= 1.0:
                raise ValueError("negative_boost must be in [0, 1]")
            node.must = [self._compile_bool_clause(
                spec["positive"], scoring, default_field, leaves, structs
            )]
            # the negative clause never scores and never bounds the
            # match set — it only demotes
            node.negative = [self._compile_bool_clause(
                spec["negative"], False, default_field, leaves, structs
            )]
            return node
        raise ValueError(f"unsupported bool clause kind {kind!r}")

    @staticmethod
    def _static_bool_eval(node: _BoolNode, text_val: bool, struct_val: bool) -> bool:
        """Evaluate a tree with every text leaf pinned to ``text_val``
        and every structured leaf to ``struct_val`` — the driver-side
        boundedness analysis: (False, False) matching means the query
        needs no evidence at all (corpus scan → reject); (False, True)
        matching means structured-only docs can match, so the
        doc-values candidates must be unioned in."""
        def m(ch):
            if isinstance(ch, _BoolNode):
                return QueryEngine._static_bool_eval(ch, text_val, struct_val)
            if isinstance(ch, (_BoolLeaf, _BoolPhrase)):
                return text_val
            return struct_val

        if not all(m(c) for c in node.must + node.filter):
            return False
        if any(m(c) for c in node.must_not):
            return False
        return sum(1 for c in node.should if m(c)) >= node.need_should()

    @staticmethod
    def _struct_only_sat(el, want: bool = True) -> bool:
        """Exact satisfiability of ``matched(el) == want`` for a doc
        with ONLY structured evidence: text leaves are pinned False
        (no matching terms), every structured leaf is FREE (each leaf
        is a distinct instance, so per-leaf choice is exact). This is
        the candidate-generation test — pinning all struct leaves to
        one shared value (the old _static_bool_eval(False, True))
        wrongly declared trees with a structured must_not clause
        unmatchable and silently skipped their doc-values candidates."""
        sat = QueryEngine._struct_only_sat
        if isinstance(el, (_BoolLeaf, _BoolPhrase)):
            return want is False
        if isinstance(el, _BoolStruct):
            return True
        n = el
        if want:
            return (
                all(sat(c, True) for c in n.must + n.filter)
                and all(sat(c, False) for c in n.must_not)
                and sum(1 for c in n.should if sat(c, True))
                >= n.need_should()
            )
        if any(sat(c, False) for c in n.must + n.filter):
            return True
        if any(sat(c, True) for c in n.must_not):
            return True
        need = n.need_should()
        if need > 0:
            forced = sum(1 for c in n.should if not sat(c, False))
            return forced < need
        return False

    def _bool_tree_cols(self, node: _BoolNode) -> tuple[str, str, list]:
        """(matched, score, names) SQL expressions for one query's tree
        over the per-clause aggregation columns ``_c<cid>`` (distinct
        matched-term count) and ``_s<cid>`` (boosted contribution sum)
        plus the joined doc-value columns for structured predicates.
        Score = Σ over matched must/should children of the child's
        score (ES sum-of-clauses; a nested bool contributes its own
        sum × its boost), evaluated as a pure JVM expression. Every
        piece is SQL text, parsed once per query_id CASE (the Column
        DSL costs one py4j call per operator)."""
        def matched(ch) -> str:
            if isinstance(ch, _BoolNode):
                return matched_node(ch)
            if isinstance(ch, (_BoolLeaf, _BoolPhrase)):
                need = (
                    len(ch.terms)
                    if isinstance(ch, _BoolLeaf) and ch.op_and
                    else 1
                )
                return f"(coalesce(_c{ch.cid}, 0) >= {need})"
            return f"coalesce({self._structured_pred_sql(ch.clause)}, false)"

        def score(ch) -> str:
            if isinstance(ch, _BoolNode):
                return score_node(ch)
            if isinstance(ch, (_BoolLeaf, _BoolPhrase)) and ch.scoring:
                return f"coalesce(_s{ch.cid}, 0.0D)"
            if isinstance(ch, _BoolNested) and ch.scoring:
                # constant-per-object contract (see _BoolNested):
                # sum → matching-object count × boost; avg/max → the
                # constant itself; none → 0. Gated by matched() in
                # the caller, so the count is ≥ 1 when evaluated.
                if ch.score_mode == "none":
                    return "0.0D"
                if ch.score_mode == "sum":
                    elem = self._nested_elem_sql(ch.path, ch.inner)
                    n = (f"coalesce(size(filter({self._sql_ident(ch.path)}, "
                         f"x -> {elem})), 0)")
                    return f"(cast({n} as double) * {float(ch.boost)!r}D)"
                return f"{float(ch.boost)!r}D"
            if isinstance(ch, _BoolRankFeature) and ch.scoring:
                x = f"cast({self._sql_ident(ch.column)} as double)"
                if ch.fn == "saturation":
                    v = f"({x} / ({x} + {float(ch.params['pivot'])!r}D))"
                elif ch.fn == "log":
                    v = f"ln({float(ch.params['scaling_factor'])!r}D + {x})"
                else:  # sigmoid
                    e = ch.params["exponent"]
                    v = (
                        f"(power({x}, {float(e)!r}D) / (power({x}, "
                        f"{float(e)!r}D) + "
                        f"{float(ch.params['pivot']) ** e!r}D))"
                    )
                return f"coalesce(({v} * {float(ch.boost)!r}D), 0.0D)"
            return "0.0D"

        def gated(ch) -> str:
            return f"if({matched(ch)}, {score(ch)}, 0.0D)"

        def matched_node(n: _BoolNode) -> str:
            parts = [matched(c) for c in n.must + n.filter]
            parts += [f"(NOT {matched(c)})" for c in n.must_not]
            need = n.need_should()
            if need > 0:
                cnt = " + ".join(f"cast({matched(c)} as int)" for c in n.should)
                parts.append(f"(({cnt}) >= {need})")
            return "(" + " AND ".join(parts) + ")" if parts else "true"

        def score_node(n: _BoolNode) -> str:
            if n.kind == "dis_max":
                # ES dis_max: max matching clause + tie_breaker·Σrest
                per = [gated(c) for c in n.should]
                s = f"greatest({', '.join(per)})" if len(per) > 1 else per[0]
                if n.tie_breaker:
                    total = "(" + " + ".join(per) + ")"
                    s = f"({s} + {float(n.tie_breaker)!r}D * ({total} - {s}))"
            elif n.kind == "boosting":
                s = gated(n.must[0])
                neg = matched(n.negative[0])
                s = f"if({neg}, ({s} * {float(n.negative_boost)!r}D), {s})"
            elif n.kind == "constant_score":
                # matched gating happens in the caller's CASE; the
                # node's own contribution is the constant (0 when the
                # node sits in filter/must_not context)
                return f"{float(n.boost if n.scoring else 0.0)!r}D"
            else:
                s = "0.0D"
                for c in n.must + n.should:
                    s = f"({s} + {gated(c)})"
            if n.boost != 1.0:
                s = f"({s} * {float(n.boost)!r}D)"
            return s

        def names_of(n: _BoolNode) -> list[tuple[str, str]]:
            """(name, matched) per named element, ES named queries —
            DFS order; callers pin lexicographic order."""
            out: list = []

            def visit(el):
                nm = getattr(el, "name", None)
                if nm:
                    out.append((str(nm), matched(el)))
                if isinstance(el, _BoolNode):
                    for c in (el.must + el.should + el.must_not
                              + el.filter + el.negative):
                        visit(c)

            visit(n)
            return out

        return matched_node(node), score_node(node), names_of(node)

    def _phrase_leaf_rows(self, phrase_leaves, qid_of) -> list:
        """match_phrase clauses inside bool trees → unified clause-row
        frames (query_id, doc_id, cid, wc): one positional-kernel pass
        PER FIELD (pseudo-queries keyed by clause id, k=None → the
        full phrase match set; the phrase bounds it), scores pinned
        phrase BM25 × boost (0 in filter context). Needs an index
        built with store_positions=True."""
        if not phrase_leaves:
            return []
        by_field: dict = {}
        for lf in phrase_leaves:
            by_field.setdefault(lf.field, []).append(lf)
        out = []
        for fld, lls in by_field.items():
            pseudo = [(lf.cid, lf.text) for lf in lls]
            seqs = {
                lf.cid: [self._term_of(t, fld) for t in self._tokenize(lf.text)]
                for lf in lls
            }
            slops = {lf.cid: lf.slop for lf in lls}
            matched = self._matched_segments(pseudo, field=fld)
            if matched is None:
                continue
            ranged = self._ranged(matched, 1)
            run = self._phrase_group_kernel(None, seqs, slop=slops)
            partials = ranged.groupBy("query_id", "ord", "range_id").applyInPandas(
                run, schema=TOPK_SCHEMA + ", range_id int"
            )
            pm = local_rows_df(self.spark, 
                [
                    (lf.cid, qid_of[lf.cid],
                     lf.boost if lf.scoring else 0.0)
                    for lf in lls
                ],
                schema="cid int, qid long, b double",
            )
            out.append(
                partials.select(
                    F.col("query_id").cast("int").alias("cid"),
                    "doc_id", "score",
                )
                .join(F.broadcast(pm), "cid")
                .select(
                    F.col("qid").alias("query_id"),
                    "doc_id",
                    "cid",
                    (F.col("score") * F.col("b")).alias("wc"),
                )
            )
        return out

    def _bool_tree_match_set(
        self,
        queries: list[tuple[int, dict]],
        field: str | None = None,
        docs: DataFrame | None = None,
    ) -> DataFrame | None:
        """Full (query_id, doc_id, score) match set of bool specs, or
        None when nothing can match — the one bool compiler behind
        every hash-aggregate surface (:meth:`bool_topk`, aggregations,
        counts, sort, collapse, rescore, function_score). Rich specs —
        nested bool sub-clauses, per-clause boost/field/operator and
        bool-level minimum_should_match (the shapes real ES bodies
        nest; reference users query the index ElasticIndexer.js:76
        builds with exactly these bodies) — compile as they are;
        legacy flat specs first become the equivalent tree
        (:meth:`_flat_bool_tree`).

        Scale shape — still ONE postings scan for the whole batch:
        every text leaf of every tree contributes (query_id, term)
        rows to the broadcast scan table; the decode kernel prices
        them once; a broadcast (query_id, term, clause_id, weight)
        fan-out then feeds ONE (query_id, doc_id) hash-agg computing
        per-clause matched-term counts and boosted partial sums as
        conditional aggregates (no shuffle per clause, no extra pass
        per nesting level). The tree itself evaluates as a pure JVM
        CASE expression over those columns — arbitrary nesting depth
        costs zero additional shuffles. Structured clauses (SQL text,
        :meth:`_structured_pred_sql`) join the doc-values projection,
        whose scan is pushed the OR of every query's predicates;
        structured-only-matchable queries union their candidates from
        that pushed scan. A tree that can match with NO evidence
        (must_not-only, msm=0 should-only) is rejected as an unbounded
        corpus scan.

        Scores: clause sums use engine-ordered float addition — ranks
        agree with a flat re-sum except on knife-edge float ties."""
        leaves: list[_BoolLeaf] = []
        structs_all: list[_BoolStruct] = []
        trees: dict[int, _BoolNode] = {}
        q_leaves: dict[int, list[_BoolLeaf]] = {}
        q_structs: dict[int, list[_BoolStruct]] = {}
        for qid, clauses in queries:
            if not _is_rich_bool(clauses):
                clauses = self._flat_bool_tree(qid, clauses)
                if clauses is None:
                    continue
            n0, s0 = len(leaves), len(structs_all)
            trees[qid] = self._compile_bool_node(
                clauses, True, field, leaves, structs_all
            )
            q_leaves[qid] = leaves[n0:]
            q_structs[qid] = structs_all[s0:]
            if self._static_bool_eval(trees[qid], False, False):
                raise ValueError(
                    f"query {qid}: the bool tree matches docs with no "
                    "matching clause at all — an unbounded corpus scan; "
                    "add a required/scoring clause"
                )
        # ---- text side: one scan, one per-clause conditional agg ----
        phrase_leaves = [lf for lf in leaves if isinstance(lf, _BoolPhrase)]
        if phrase_leaves:
            self._require_positions("match_phrase in a bool tree")
        qid_of = {
            lf.cid: qid for qid, lls in q_leaves.items() for lf in lls
        }
        term_rows: dict[tuple[int, str], dict] = {}
        clause_rows: list[tuple[int, str, int, float]] = []
        for qid, lls in q_leaves.items():
            for leaf in lls:
                if not isinstance(leaf, _BoolLeaf):
                    continue
                for t in leaf.terms:
                    r = term_rows.setdefault(
                        (qid, t), {"scoring": False, "field": leaf.field}
                    )
                    r["scoring"] = r["scoring"] or leaf.scoring
                    clause_rows.append(
                        (qid, t, leaf.cid, leaf.boost if leaf.scoring else 0.0)
                    )
        meta = self._term_meta(sorted({t for _, t in term_rows}))
        present = {
            (qid, t): r
            for (qid, t), r in term_rows.items()
            if t in meta and meta[t]["df"] > 0
        }
        pre = None  # unified (query_id, doc_id, cid, wc) clause rows
        if present:
            matched = self._attach_query_terms(
                self._pruned_postings(meta),
                [
                    (
                        qid,
                        t,
                        _idf(self.n_docs, meta[t]["df"]) if r["scoring"] else 0.0,
                        self._avgdl_of(r["field"]),
                    )
                    for (qid, t), r in present.items()
                ],
            )
            contribs = matched.mapInPandas(
                _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
                schema=CONTRIB_SCHEMA,
            )
            # clause fan-out: (query_id, term) → [(cid, w)…] is
            # driver-known and tiny — inlined as one literal map
            # expression on a composite key instead of a second
            # broadcast join (same inner-join semantics: absent keys
            # yield NULL and explode drops them)
            pre = self._attach_clause_rows(
                contribs, [r for r in clause_rows if (r[0], r[1]) in present]
            )
        # phrase leaves: the positional kernel over the FULL match set
        # (no k-cut — the phrase itself bounds the set), keyed by
        # clause id, folded into the same per-clause aggregation
        for prows in self._phrase_leaf_rows(phrase_leaves, qid_of):
            pre = prows if pre is None else pre.unionByName(prows)
        agg = None
        if pre is not None:
            # per-clause conditional aggregates as SQL text — one
            # parse per column instead of five py4j calls each
            aggs = []
            for leaf in leaves:
                if isinstance(leaf, _BoolStruct):
                    continue
                aggs.append(F.expr(
                    f"sum(if(cid = {leaf.cid}, 1, 0)) AS _c{leaf.cid}"
                ))
                if leaf.scoring:
                    aggs.append(F.expr(
                        f"sum(if(cid = {leaf.cid}, wc, 0.0D)) AS _s{leaf.cid}"
                    ))
            agg = pre.groupBy("query_id", "doc_id").agg(*aggs)
        # ---- structured side: pushed doc-values candidates ----------
        cands = agg
        dvf = None
        if structs_all:
            cols = sorted(
                {self._clause_col(s.clause) for s in structs_all}
            )
            dv = (
                docs.select("doc_id", *cols)
                if docs is not None
                else self._doc_values(cols)
            )
            q_any = {
                qid: "(" + " OR ".join(
                    self._structured_pred_sql(s.clause) for s in ss
                ) + ")"
                for qid, ss in q_structs.items() if ss
            }
            dvf = dv.filter(F.expr(" OR ".join(q_any.values())))
            dparts = []
            for qid, tree in trees.items():
                if qid in q_any and self._struct_only_sat(tree):
                    dparts.append(
                        dvf.filter(F.expr(q_any[qid])).select(
                            F.lit(qid).cast("long").alias("query_id"), "doc_id"
                        )
                    )
            if dparts:
                dcand = dparts[0]
                for p in dparts[1:]:
                    dcand = dcand.unionByName(p)
                dcand = dcand.distinct()
                cands = (
                    dcand
                    if cands is None
                    else cands.join(dcand, ["query_id", "doc_id"], "full_outer")
                )
        if cands is None:
            return None
        if dvf is not None:
            cands = cands.join(dvf, "doc_id", "left")
        per_query: list[tuple[int, str, str, str]] = []
        any_names = False
        for qid, tree in trees.items():
            m, s, names = self._bool_tree_cols(tree)
            # ES named queries: the names of matched _name clauses,
            # pinned lexicographic order (per-clause matched columns
            # come free from the same hash-agg — no extra pass)
            mq = "cast(array() as array<string>)"
            if names:
                any_names = True
                arr = ", ".join(
                    f"if({mc}, {_sql_str(nm)}, cast(null as string))"
                    for nm, mc in sorted(names, key=lambda x: x[0])
                )
                mq = f"filter(array({arr}), x -> x IS NOT NULL)"
            per_query.append((qid, m, s, mq))

        def case_of(pieces: list[tuple[int, str]], default: str) -> Column:
            """query_id-dispatched CASE, parsed once."""
            whens = " ".join(
                f"WHEN (query_id = {qid}L) THEN ({x})" for qid, x in pieces
            )
            return F.expr(f"CASE {whens} ELSE {default} END")

        m_case = case_of([(q, m) for q, m, _, _ in per_query], "false")
        s_case = case_of([(q, s) for q, _, s, _ in per_query], "0.0D")
        cols = ["query_id", "doc_id", s_case.alias("score")]
        if any_names:
            mq_case = case_of(
                [(q, mq) for q, _, _, mq in per_query],
                "cast(array() as array<string>)",
            )
            cols.append(mq_case.alias("matched_queries"))
        return cands.filter(m_case).select(*cols)

    # -- phrase queries (ES match_phrase over the positional sidecar) --------

    def phrase_topk(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        n_ranges: int | None = None,
        field: str | None = None,
        from_: int = 0,
        slop: int = 0,
        search_after: dict[int, tuple[float, int]] | None = None,
        first: int | None = None,
    ) -> DataFrame:
        """ES ``match_phrase`` over the compressed POSITIONAL postings
        (index built with ``IndexConfig(store_positions=True)``): a hit
        must contain the query's tokens consecutively, verified from
        the per-doc position streams; ranking is BM25 over the
        phrase's distinct terms with corpus-wide stats. Partitioned
        like the WAND path — per (query, dir, range) local evaluation
        over range-pruned segments, global WindowGroupLimit merge
        (exact: a live doc's postings sit in one (dir, range)).
        ``field`` scopes the phrase to one analyzed field of a fielded
        index (positions are within-field offsets).

        ``slop``: ES match_phrase slop as SHIFTED-POSITION SPAN — a
        doc matches iff each phrase slot j has an occurrence at some
        position p_j with max_j(p_j − j) − min_j(p_j − j) ≤ slop.
        slop=0 is exact adjacency; a one-word insertion needs slop 1;
        a transposition needs slop 2 — the Lucene sloppy-phrase
        distances for the common cases, in a form that stays fully
        vectorized (anchored window intersection, see the kernel) and
        SQL-twinnable. Deviations from Lucene's move-based matcher:
        repeated-term phrases may satisfy two slots with one
        occurrence when slop ≥ 1, and scoring ignores slop distance
        (BM25 over the phrase terms, like the exact path).

        ``search_after``: ES cursor pagination — phrase scores are the
        pinned deterministic sum, so served docs are excluded inside
        the kernels by exact sort-key comparison (k-sized heaps at any
        cursor depth); ranks restart at 1 per page."""
        from pyspark.sql import Window as W

        self._require_positions("phrase_topk")
        fld = self._resolve_field(field)
        seqs = {
            qid: [self._term_of(t, fld) for t in self._tokenize(text)]
            for qid, text in queries
        }
        matched = self._matched_segments(queries, field=field)
        if matched is None:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        k_local = from_ + k
        ranged = self._ranged(matched, n_ranges or 1)
        if first is not None and slop:
            raise ValueError("first (span_first) beside slop is not supported")
        run = self._phrase_group_kernel(
            k_local, seqs, slop=slop, after=search_after, first=first
        )
        partials = ranged.groupBy("query_id", "ord", "range_id").applyInPandas(
            run, schema=TOPK_SCHEMA + ", range_id int"
        )
        est = len(queries) * max(n_ranges or 1, 1) * len(self.dirs) * k_local
        if est <= self._LOCAL_MERGE_MAX:
            return self._merge_partials_local(partials, k_local, from_)
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= k_local))
            .select("query_id", "rank", "doc_id", "score")
        )

    def _span_like_topk(
        self,
        scan_queries: list[tuple[int, str]],
        k: int,
        from_: int,
        field: str | None,
        **kernel_kw,
    ) -> DataFrame:
        """Shared driver for the span/interval operators: one
        term-pruned scan (all tokens of all clauses), the positional
        kernel per (query, dir, range), WindowGroupLimit merge — the
        phrase_topk shape exactly."""
        from pyspark.sql import Window as W

        self._require_positions("span and intervals queries")
        matched = self._matched_segments(scan_queries, field=field)
        if matched is None:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        k_local = from_ + k
        ranged = self._ranged(matched, 1)
        run = self._phrase_group_kernel(k_local, **kernel_kw)
        partials = ranged.groupBy("query_id", "ord", "range_id").applyInPandas(
            run, schema=TOPK_SCHEMA + ", range_id int"
        )
        est = len(scan_queries) * len(self.dirs) * k_local
        if est <= self._LOCAL_MERGE_MAX:
            return self._merge_partials_local(partials, k_local, from_)
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= k_local))
            .select("query_id", "rank", "doc_id", "score")
        )

    def span_or_topk(
        self,
        queries: list[tuple[int, list[str]]],
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES ``span_or``: each query is a LIST of span texts
        (span_term = one token, span_near in_order/slop 0 = a phrase);
        a doc matches when ANY alternative's span matches, scored as
        the max over its matching alternatives (the dis_max combine
        the expansion paths pin). One scan over the union of all
        alternatives' tokens. Needs ``store_positions=True``."""
        fld = self._resolve_field(field)
        alts = {
            qid: [
                [self._term_of(t, fld) for t in self._tokenize(text)]
                for text in texts
            ]
            for qid, texts in queries
        }
        if not all(alt for alt in alts.values()) or not all(
            all(sq for sq in alt) for alt in alts.values()
        ):
            raise ValueError("span_or needs non-empty clause texts")
        scan = [(qid, " ".join(texts_)) for qid, texts_ in queries]
        seqs = {qid: alts[qid][0] for qid, _ in queries}
        return self._span_like_topk(
            scan, k, from_, field, seqs=seqs, alts=alts
        )

    def span_not_topk(
        self,
        queries: list[tuple[int, tuple[str, str]]],
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES ``span_not``: each query is (include span text, exclude
        span text) — an include occurrence matches unless an exclude
        occurrence OVERLAPS it (the ES default, pre/post 0; e.g.
        include "fox", exclude "quick fox" keeps only the foxes not
        preceded by quick). Both spans are consecutive-token sequences
        (span_term / in-order slop-0 span_near). Needs
        ``store_positions=True``."""
        fld = self._resolve_field(field)
        seqs, excl, scan = {}, {}, []
        for qid, (inc, exc) in queries:
            toks = self._tokenize(inc)
            etoks = self._tokenize(exc)
            if not toks or not etoks:
                raise ValueError(
                    "span_not takes non-empty include and exclude spans"
                )
            seqs[qid] = [self._term_of(t, fld) for t in toks]
            excl[qid] = [self._term_of(t, fld) for t in etoks]
            scan.append((qid, inc + " " + exc))
        return self._span_like_topk(
            scan, k, from_, field, seqs=seqs, exclude=excl
        )

    def intervals_topk(
        self,
        queries: list[tuple[int, str]],
        max_gaps: int = 0,
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES ``intervals`` ``match`` with ``ordered=true``: the
        query's tokens must occur IN ORDER with at most ``max_gaps``
        positions between the first and last beyond adjacency
        (width − tokens ≤ max_gaps) — the greedy minimal-chain kernel
        (exact; see _phrase_group_kernel). ``ordered=false`` raises
        with a pointer at match_phrase slop (the supported unordered
        proximity form). Scoring is the pinned phrase BM25 sum of the
        terms (documented deviation from ES's interval frequency
        scoring). Needs ``store_positions=True``."""
        if max_gaps < 0:
            raise ValueError("max_gaps must be ≥ 0")
        fld = self._resolve_field(field)
        seqs = {
            qid: [self._term_of(t, fld) for t in self._tokenize(text)]
            for qid, text in queries
        }
        if not all(seqs.values()):
            raise ValueError("empty intervals text")
        gaps = {qid: int(max_gaps) for qid, _ in queries}
        return self._span_like_topk(
            queries, k, from_, field, seqs=seqs, ordered_gaps=gaps
        )

    def intervals_any_topk(
        self,
        queries: list[tuple[int, list[str]]],
        max_gaps: int = 0,
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES ``intervals`` ``any_of``: a doc matches when ANY of the
        alternative ordered interval rules matches (every branch
        shares ``ordered=true`` and ONE ``max_gaps`` — per-branch
        budgets raise upstream, a documented restriction). Score = max
        over the matching branches' pinned phrase-BM25 sums (the alts
        combine). Needs ``store_positions=True``."""
        if max_gaps < 0:
            raise ValueError("max_gaps must be ≥ 0")
        fld = self._resolve_field(field)
        alts = {
            qid: [
                [self._term_of(t, fld) for t in self._tokenize(text)]
                for text in texts
            ]
            for qid, texts in queries
        }
        if not all(alt and all(sq for sq in alt) for alt in alts.values()):
            raise ValueError("intervals any_of needs non-empty rule texts")
        scan = [(qid, " ".join(texts)) for qid, texts in queries]
        seqs = {qid: alts[qid][0] for qid, _ in queries}
        gaps = {qid: int(max_gaps) for qid, _ in queries}
        return self._span_like_topk(
            scan, k, from_, field, seqs=seqs, alts=alts, ordered_gaps=gaps
        )

    def _phrase_group_kernel(
        self,
        k: int | None,
        seqs: dict[int, list[str]],
        slop: int | dict[int, int] = 0,
        variants: dict[int, list[str]] | None = None,
        after: dict[int, tuple[float, int]] | None = None,
        first: int | None = None,
        alts: dict[int, list[list[str]]] | None = None,
        exclude: dict[int, list[str]] | None = None,
        ordered_gaps: dict[int, int] | None = None,
    ):
        """applyInPandas kernel: one (query, dir, range) group →
        decode the phrase terms' doc/tf/dl/position streams, intersect
        doc sets, verify positional adjacency, score survivors
        (term-lex pinned sum), local top-k.

        Adjacency is VECTORIZED across the candidate axis (no per-doc
        Python loop): for phrase offset j, every (candidate, pos - j)
        pair of term seq[j] becomes one packed int64 key; a phrase
        occurrence is a key surviving the intersection over all j —
        the classic shift-and-intersect positional join, batch-shaped
        so a stopword-pair phrase ("of the") stays numpy-bound.
        Scoring then gathers tf/dl per surviving doc per term and
        accumulates field-aware BM25 in the pinned term-lex order —
        the same float additions, in the same order, as the scalar
        path, so scores stay bit-equal.

        ``variants`` (match_phrase_prefix): per query, the capped
        expansion terms of the LAST slot. Each expansion forms its own
        phrase seq[:-1]+[v], evaluated over the SAME decoded streams;
        a doc's score is the MAX over its matching expansion phrases
        (dis_max across expansions — documented deviation from
        Lucene's MultiPhraseQuery blended statistics).

        ``after``: ES search_after — phrase scores are PINNED sums
        (term-lex order, bit-stable across jobs; a dis_max of pinned
        sums is equally deterministic), so served docs are excluded
        INSIDE the kernel by exact (score, doc_id) sort-key comparison
        — the WAND-path cursor design: k hits kept at any depth."""
        k1, b = self.cfg.k1, self.cfg.b
        dead_by_ord = self._dead_by_ord

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            from xml_to_es_spark.operators.postings import (
                decode_positions,
                varbyte_decode,
            )

            empty = pd.DataFrame(
                {
                    "query_id": np.array([], dtype=np.int64),
                    "rank": np.array([], dtype=np.int32),
                    "doc_id": np.array([], dtype=np.int64),
                    "score": np.array([], dtype=np.float64),
                    "range_id": np.array([], dtype=np.int32),
                }
            )
            qid = int(pdf["query_id"].iat[0])
            seq = seqs[qid]
            # slop may be per-query (bool-tree phrase leaves keyed by
            # clause id) or one int for the whole batch
            sl = slop.get(qid, 0) if isinstance(slop, dict) else slop
            by_term: dict[str, dict] = {}
            idf: dict[str, float] = {}
            avg: dict[str, float] = {}
            for term, grp in pdf.groupby("term", sort=True):
                grp = grp.sort_values("salt")
                docs_l, tfs_l, dls_l, pls = [], [], [], []
                for r in grp.itertuples(index=False):
                    n = int(r.n_docs)
                    d = np.cumsum(varbyte_decode(r.docs_bin, n).astype(np.int64))
                    tf = varbyte_decode(r.tfs_bin, n).astype(np.int64)
                    dl = varbyte_decode(r.dls_bin, n).astype(np.int64)
                    if not len(r.pos_bin):
                        raise ValueError(
                            "phrase_topk needs an index built with"
                            " IndexConfig(store_positions=True)"
                        )
                    pls.extend(decode_positions(r.pos_bin, tf))
                    docs_l.append(d)
                    tfs_l.append(tf)
                    dls_l.append(dl)
                    idf[term] = float(r.idf)
                    avg[term] = float(r.avgdl)
                by_term[term] = {
                    "docs": np.concatenate(docs_l),  # salt order = doc order
                    "tfs": np.concatenate(tfs_l),
                    "dls": np.concatenate(dls_l),
                    "pos": pls,
                }
            lo, hi = int(pdf["range_lo"].iat[0]), int(pdf["range_hi"].iat[0])
            dead = dead_by_ord.get(int(pdf["ord"].iat[0]))

            def evaluate(sq: list[str]):
                """One phrase sequence → (matching docs, pinned-sum
                scores) over the already-decoded streams; None when a
                term is absent from this dir or nothing matches."""
                uniq = sorted(set(sq))
                if any(t not in by_term for t in uniq):
                    return None
                cand = by_term[uniq[0]]["docs"]
                for t in uniq[1:]:
                    cand = np.intersect1d(
                        cand, by_term[t]["docs"], assume_unique=True
                    )
                cand = cand[(cand >= lo) & (cand < hi)]
                if dead is not None and dead.size and cand.size:
                    p = np.minimum(np.searchsorted(dead, cand), dead.size - 1)
                    cand = cand[dead[p] != cand]
                if not cand.size:
                    return None
                # shift-and-intersect over packed (candidate_idx,
                # start) keys; position lists are ascending per doc
                # and owners ascend, so each key stream is sorted +
                # unique. Shifted positions are offset by m-1 so
                # negative shifts (needed for slop — a transposed
                # token shifts left) stay packable; a uniform offset
                # changes neither the intersection nor the span.
                m = len(sq)
                og = (ordered_gaps or {}).get(qid)
                slot_keys: list[np.ndarray] = []
                for j, t in enumerate(sq) if og is None else ():
                    e = by_term[t]
                    idxs = np.searchsorted(e["docs"], cand)
                    plists = [e["pos"][i] for i in idxs]
                    counts = np.array([p.size for p in plists], dtype=np.int64)
                    flat = (
                        np.concatenate(plists)
                        if plists
                        else np.empty(0, dtype=np.int64)
                    ) - j + (m - 1)
                    owner = np.repeat(
                        np.arange(cand.size, dtype=np.int64), counts
                    )
                    keys = (owner << np.int64(33)) | (flat + 1)
                    slot_keys.append(keys)
                if og is not None:
                    survivors = None  # computed by the intervals chain
                elif sl == 0:
                    survivors: np.ndarray | None = None
                    for keys in slot_keys:
                        survivors = (
                            keys
                            if survivors is None
                            else np.intersect1d(
                                survivors, keys, assume_unique=True
                            )
                        )
                        if survivors.size == 0:
                            return None
                else:
                    # anchored window intersection: anchor a runs over
                    # the union of shifted positions; slot j matches
                    # iff it has a shifted position in [a, a+slop] for
                    # the same candidate — first-key-ge probe
                    vmask = np.int64((1 << 33) - 1)
                    anchors = np.unique(np.concatenate(slot_keys))
                    ok = np.ones(anchors.size, dtype=bool)
                    for keys in slot_keys:
                        if not keys.size:
                            return None
                        idx = np.searchsorted(keys, anchors)
                        hit = idx < keys.size
                        nxt = keys[np.minimum(idx, keys.size - 1)]
                        hit &= (nxt >> np.int64(33)) == (anchors >> np.int64(33))
                        hit &= (nxt & vmask) <= (anchors & vmask) + sl
                        ok &= hit
                    survivors = anchors[ok]
                    if survivors.size == 0:
                        return None
                if og is not None:
                    # ES intervals (ordered, max_gaps): greedy minimal
                    # chain from every slot-0 occurrence — for slot j,
                    # the smallest position strictly greater than the
                    # previous slot's pick, same candidate; the span
                    # matches iff width − (m−1) ≤ max_gaps. Raw
                    # (unshifted) keys; greedy minimality makes the
                    # width bound exact per anchor.
                    vmask1 = np.int64((1 << 33) - 1)
                    raw_keys: list[np.ndarray] = []
                    for t in sq:
                        e = by_term[t]
                        idxs = np.searchsorted(e["docs"], cand)
                        plists = [e["pos"][i] for i in idxs]
                        counts = np.array(
                            [p.size for p in plists], dtype=np.int64
                        )
                        flat = (
                            np.concatenate(plists)
                            if plists
                            else np.empty(0, dtype=np.int64)
                        )
                        owner = np.repeat(
                            np.arange(cand.size, dtype=np.int64), counts
                        )
                        raw_keys.append((owner << np.int64(33)) | (flat + 1))
                    cur = raw_keys[0]
                    if not cur.size:
                        return None
                    owners0 = cur >> np.int64(33)
                    startv = cur & vmask1
                    okg = np.ones(cur.size, dtype=bool)
                    prev = cur
                    for keys in raw_keys[1:]:
                        if not keys.size:
                            return None
                        idx = np.searchsorted(keys, prev + 1)
                        hitg = idx < keys.size
                        nxt = keys[np.minimum(idx, keys.size - 1)]
                        hitg &= (nxt >> np.int64(33)) == owners0
                        okg &= hitg
                        prev = np.where(hitg, nxt, prev)
                    okg &= ((prev & vmask1) - startv) <= np.int64(
                        m - 1 + og
                    )
                    survivors = cur[okg]
                    if survivors.size == 0:
                        return None
                if first is not None:
                    # ES span_first: the span must END at position ≤
                    # end. A survivor key's value part is start+m
                    # (every slot shifts to the same start-aligned
                    # offset; +1 packing), i.e. exactly the exclusive
                    # end position of the occurrence.
                    vmask0 = np.int64((1 << 33) - 1)
                    survivors = survivors[
                        (survivors & vmask0) <= np.int64(first)
                    ]
                    if survivors.size == 0:
                        return None
                exc = (exclude or {}).get(qid)
                if (exc is not None and survivors.size
                        and all(t in by_term for t in exc)):
                    # ES span_not: drop include survivors overlapped by
                    # an exclude-span occurrence. Exclude occurrences:
                    # the same shift-and-intersect, packed as
                    # (owner, start + me); include survivor value
                    # v = start_i + m, so overlap ⟺ an exclude key
                    # value in [v − m + 1, v + me − 1] of the same
                    # owner — one first-key-ge probe.
                    vmask2 = np.int64((1 << 33) - 1)
                    me = len(exc)
                    ex_surv: np.ndarray | None = None
                    for j2, t2 in enumerate(exc):
                        e2 = by_term[t2]
                        idxs2 = np.minimum(
                            np.searchsorted(e2["docs"], cand),
                            e2["docs"].size - 1,
                        )
                        has2 = e2["docs"][idxs2] == cand
                        plists2 = [
                            e2["pos"][i2] if h2
                            else np.empty(0, dtype=np.int64)
                            for i2, h2 in zip(idxs2, has2)
                        ]
                        counts2 = np.array(
                            [p2.size for p2 in plists2], dtype=np.int64
                        )
                        flat2 = (
                            np.concatenate(plists2)
                            if plists2
                            else np.empty(0, dtype=np.int64)
                        ) - j2 + me
                        owner2 = np.repeat(
                            np.arange(cand.size, dtype=np.int64), counts2
                        )
                        ks = (owner2 << np.int64(33)) | flat2
                        ex_surv = (
                            ks if ex_surv is None
                            else np.intersect1d(
                                ex_surv, ks, assume_unique=True
                            )
                        )
                        if ex_surv.size == 0:
                            break
                    if ex_surv is not None and ex_surv.size:
                        sv = np.sort(survivors)
                        target = (
                            (sv >> np.int64(33)) << np.int64(33)
                        ) | ((sv & vmask2) - np.int64(m) + 1)
                        idx = np.searchsorted(ex_surv, target)
                        hit = idx < ex_surv.size
                        nxt = ex_surv[np.minimum(idx, ex_surv.size - 1)]
                        bad = hit & (
                            (nxt >> np.int64(33)) == (sv >> np.int64(33))
                        ) & (
                            (nxt & vmask2)
                            <= (sv & vmask2) + np.int64(me - 1)
                        )
                        survivors = sv[~bad]
                    if survivors.size == 0:
                        return None
                sdocs = cand[np.unique(survivors >> np.int64(33))]
                # pinned term-lex scoring over matching docs
                score = np.zeros(sdocs.size, dtype=np.float64)
                for t in uniq:
                    e = by_term[t]
                    i = np.searchsorted(e["docs"], sdocs)
                    tf = e["tfs"][i].astype(np.float64)
                    dl = e["dls"][i].astype(np.float64)
                    score += idf[t] * (tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * dl / avg[t])
                    ))
                return sdocs, score

            if alts is not None:
                # span_or: dis_max over the full alternative
                # sequences, same combine as the variants path
                best: dict[int, float] = {}
                for sq_ in alts.get(qid, []):
                    r = evaluate(sq_)
                    if r is None:
                        continue
                    for d_, s_ in zip(r[0].tolist(), r[1].tolist()):
                        if s_ > best.get(d_, -np.inf):
                            best[d_] = s_
                if not best:
                    return empty
                sdocs = np.array(sorted(best), dtype=np.int64)
                score = np.array([best[int(d_)] for d_ in sdocs])
            elif variants is None:
                r = evaluate(seq)
                if r is None:
                    return empty
                sdocs, score = r
            else:
                # match_phrase_prefix: dis_max over expansion phrases
                # evaluated against the SAME decoded streams
                best: dict[int, float] = {}
                for v in variants.get(qid, []):
                    r = evaluate(seq[:-1] + [v])
                    if r is None:
                        continue
                    for d_, s_ in zip(r[0].tolist(), r[1].tolist()):
                        if s_ > best.get(d_, -np.inf):
                            best[d_] = s_
                if not best:
                    return empty
                sdocs = np.array(sorted(best), dtype=np.int64)
                score = np.array([best[int(d_)] for d_ in sdocs])
            if after is not None and after.get(qid) is not None:
                a_s, a_d = after[qid]
                keep = (score < a_s) | ((score == a_s) & (sdocs > a_d))
                sdocs, score = sdocs[keep], score[keep]
                if not sdocs.size:
                    return empty
            order = np.lexsort((sdocs, -score))[:k]
            return pd.DataFrame(
                {
                    "query_id": np.full(len(order), qid, dtype=np.int64),
                    "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                    "doc_id": sdocs[order],
                    "score": score[order],
                    "range_id": np.full(
                        len(order), int(pdf["range_id"].iat[0]), dtype=np.int32
                    ),
                }
            )

        return run

    def fuzzy_variants(
        self,
        tokens: list[str],
        fuzziness: int,
        field: str | None = None,
        max_expansions: int = 50,
    ) -> dict[str, list[str]]:
        """ES fuzzy expansion against the terms DICTIONARY: each query
        token → indexed terms within levenshtein ≤ fuzziness, capped
        at ``max_expansions`` per token keeping the CLOSEST variants —
        the cap window orders by (edit distance, term), matching
        Lucene's FuzzyQuery, which keeps the top-N highest-similarity
        terms (term order breaks distance ties). One job over the
        unioned per-dir term tables; the cap is applied IN-PLAN, so
        the driver collect is ≤ tokens×cap rows by construction. On
        fielded indexes the scan is prefix-pruned to ``field`` and the
        distance is computed on the bare token; returned variants are
        STORED term keys."""
        capped = self._capped_expansion(
            tokens,
            lambda bare, probe: F.levenshtein(bare, probe) <= fuzziness,
            field,
            max_expansions,
            order=lambda bare, probe: [F.levenshtein(bare, probe), bare],
        )
        out: dict[str, list[str]] = {t: [] for t in tokens}
        for r in capped.collect():
            out[r["qp"]].append(r["term"])
        return {t: sorted(v) for t, v in out.items()}

    def _capped_expansion(
        self,
        probes: list[str],
        pred,
        field: str | None,
        max_expansions: int,
        order=None,
    ) -> DataFrame:
        """Shared dictionary-expansion plan: vocabulary × probes
        (probes exploded from a literal array), ``pred(bare, probe)``
        filtered JVM-side, then capped IN-PLAN per probe —
        ``row_number() OVER (PARTITION BY probe ORDER BY <order>) ≤
        max_expansions`` — BEFORE any collect. A 1-character prefix
        over a 10^9-term Common-Crawl vocabulary therefore reaches the
        driver as ≤ probes×max_expansions rows, never as the matching
        vocabulary slice (the round-3 scale defect). Returns
        DataFrame(qp, term, bare) with ≤ max_expansions rows per qp.
        ``order(bare, probe)`` → list of window sort Columns; default
        first-N in term order (the ES prefix-expansion rule); the
        fuzzy path passes (edit distance, term) to keep Lucene's
        top-N-by-similarity window instead."""
        from pyspark.sql import Window as W

        scans = [
            self._parquet(f"{p}/terms").select("term") for _, p in self.dirs
        ]
        vocab = scans[0]
        for sc in scans[1:]:
            vocab = vocab.unionByName(sc)
        vocab = vocab.distinct()
        if field is not None:
            fp = f"{field}:"
            vocab = vocab.filter(F.col("term").startswith(fp)).withColumn(
                "bare", F.expr(f"substring(term, {len(fp) + 1})")
            )
        else:
            vocab = vocab.withColumn("bare", F.col("term"))
        pairs = vocab.select(
            "term", "bare",
            F.explode(F.array(*[F.lit(p) for p in probes])).alias("qp"),
        ).filter(pred(F.col("bare"), F.col("qp")))
        sort_cols = (
            order(F.col("bare"), F.col("qp")) if order else [F.col("bare")]
        )
        w = W.partitionBy("qp").orderBy(*sort_cols)
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_expansions)
            .drop("_rn")
        )

    def suggest_terms(
        self,
        tokens: list[str],
        field: str | None = None,
        max_edits: int = 2,
        size: int = 5,
        suggest_mode: str = "missing",
    ) -> DataFrame:
        """ES TERM SUGGESTER ("did you mean"): per input token, the
        closest vocabulary terms within ``max_edits`` (1 or 2, the ES
        bound), ranked like ES — similarity first (edit distance asc),
        then document frequency desc, then term asc. ``suggest_mode``:
        ``missing`` suggests only for tokens absent from the index
        (the ES default), ``popular`` only terms MORE frequent than
        the input token, ``always`` unconditionally.

        Scale shape: ONE job over the unioned per-dir terms
        dictionaries — postings never touched — with the candidate
        window capped IN-PLAN per token (row_number ≤ size before any
        collect), so a 10^9-term vocabulary reaches the driver as
        ≤ tokens·size rows. df is the dictionary's raw sum across
        dirs (pre-tombstone, like ES's shard-local suggest
        frequencies — a documented approximation; the ranked paths
        always use the live df).

        Returns (token, rank, suggestion, distance, df)."""
        from pyspark.sql import Window as W

        if max_edits not in (1, 2):
            raise ValueError("max_edits must be 1 or 2 (the ES bound)")
        if suggest_mode not in ("missing", "popular", "always"):
            raise ValueError(
                "suggest_mode must be missing / popular / always"
            )
        toks = [t for t in dict.fromkeys(tokens) if t]
        empty = local_rows_df(self.spark, 
            [],
            schema="token string, rank long, suggestion string, "
                   "distance int, df long",
        )
        if not toks:
            return empty
        scans = [
            self._parquet(f"{p}/terms").select("term", "df")
            for _, p in self.dirs
        ]
        vocab = scans[0]
        for sc in scans[1:]:
            vocab = vocab.unionByName(sc)
        fld = self._resolve_field(field)
        if fld is not None:
            fp = f"{fld}:"
            vocab = vocab.filter(F.col("term").startswith(fp)).withColumn(
                "bare", F.expr(f"substring(term, {len(fp) + 1})")
            )
        else:
            vocab = vocab.withColumn("bare", F.col("term"))
        vocab = vocab.groupBy("bare").agg(F.sum("df").alias("df"))
        # the input tokens' own df — a bounded probe (≤ |tokens| rows)
        own = {t: 0 for t in toks}
        for r in vocab.filter(F.col("bare").isin(toks)).collect():
            own[r["bare"]] = int(r["df"])
        if suggest_mode == "missing":
            toks = [t for t in toks if own[t] == 0]
            if not toks:
                return empty
        pairs = vocab.select(
            "bare", "df",
            F.explode(F.array(*[F.lit(t) for t in toks])).alias("qp"),
        ).withColumn(
            "distance", F.levenshtein(F.col("bare"), F.col("qp"))
        ).filter(
            (F.col("distance") <= int(max_edits)) & (F.col("bare") != F.col("qp"))
        )
        if suggest_mode == "popular":
            own_df = F.create_map(
                *[F.lit(x) for t in toks for x in (t, own[t])]
            )
            pairs = pairs.filter(F.col("df") > own_df[F.col("qp")])
        w = W.partitionBy("qp").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("bare")
        )
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(size))
            .select(
                F.col("qp").alias("token"),
                F.col("rank").cast("long"),
                F.col("bare").alias("suggestion"),
                F.col("distance").cast("int"),
                F.col("df").cast("long"),
            )
        )

    def suggest_phrases(
        self,
        text: str,
        field: str | None = None,
        size: int = 5,
        max_edits: int = 1,
        candidate_size: int = 5,
        max_errors: float = 1.0,
        confidence: float = 1.0,
        discount: float = 0.4,
    ) -> DataFrame:
        """ES PHRASE SUGGESTER ("did you mean" for whole inputs): each
        input token generates dictionary candidates (levenshtein ≤
        ``max_edits``, the closest ``candidate_size`` — the term
        suggester's candidate generator, including the token itself
        when indexed), candidate phrases score under a BIGRAM
        StupidBackoff language model (the ES default smoothing)::

            P(w1)        = df(w1) / N
            P(wi|wi-1)   = bigram_df(wi-1, wi) / df(wi-1)   if > 0
                           else discount · df(wi) / N
            score(p)     = Σ log P                (higher = better)

        Bigram statistics come from the positional sidecar — doc
        frequencies, not occurrence counts (a documented deviation
        from ES's shard n-gram counts; ratios behave identically).
        Absent unigrams smooth to ``1/(2N)`` so the INPUT phrase
        always has a finite score for the ``confidence`` gate.

        ``max_errors``: < 1.0 → fraction of tokens that may change,
        ≥ 1 → absolute count (the ES/Lucene rule: fraction only on
        [0..1), so the 1.0 default means ONE error, not "all"). ``confidence``: a
        suggestion must score above ``log(input) + ln(confidence)``
        (confidence 0 disables the gate). Identity suggestions are
        never returned.

        Scale shape — the corpus never reaches the driver: ONE capped
        dictionary expansion (≤ tokens·candidate_size rows), one
        bounded df probe, and ONE batched positional count for the
        ≤ (n−1)·c² candidate bigrams (the oracle-verified bool_count
        machinery, all bigrams in one job). Ranking is an exact
        k-best Viterbi over (position, candidate, errors) on the
        driver — O(n·c²·errors·k), independent of corpus size.
        Needs ``store_positions=True``. Returns
        (text, rank, suggestion, score) with the log-probability
        score."""
        import math

        if max_edits not in (1, 2):
            raise ValueError("max_edits must be 1 or 2 (the ES bound)")
        toks = self._tokenize(text)
        if not toks:
            raise ValueError("empty phrase-suggest text")
        if len(toks) > 10:
            raise ValueError(
                "phrase suggester supports up to 10 tokens (the driver-"
                "side Viterbi is bounded by design)"
            )
        fld = self._resolve_field(field)
        n_errors = (
            int(max_errors) if max_errors >= 1
            else max(1, int(math.floor(max_errors * len(toks))))
        )
        # 1. candidates: one capped dictionary job (closest-first cap)
        vmap = self.fuzzy_variants(
            sorted(set(toks)), max_edits, field=field,
            max_expansions=candidate_size,
        )
        strip = (len(fld) + 1) if fld else 0
        cands = {
            t: sorted({v[strip:] for v in vs} | {t})
            for t, vs in vmap.items()
        }
        # 2. unigram df: bounded probe over the live dictionaries
        uni_terms = sorted({c for cs in cands.values() for c in cs})
        meta = self._term_meta([self._term_of(c, fld) for c in uni_terms])
        df_of = {
            c: int(meta.get(self._term_of(c, fld), {}).get("df", 0))
            for c in uni_terms
        }
        n = float(self.n_docs)

        def uni_p(w: str) -> float:
            d = df_of.get(w, 0)
            return (d / n) if d > 0 else 1.0 / (2.0 * n)

        # 3. bigram df: ONE batched positional count over every
        # candidate-adjacent pair (plus the input's own bigrams, for
        # the confidence gate)
        pair_list: list[tuple[str, str]] = []
        seen = set()
        for i in range(1, len(toks)):
            prevs = cands.get(toks[i - 1], [toks[i - 1]])
            nexts = cands.get(toks[i], [toks[i]])
            for a in prevs + [toks[i - 1]]:
                for b in nexts + [toks[i]]:
                    if (a, b) not in seen:
                        seen.add((a, b))
                        pair_list.append((a, b))
        bi_df: dict[tuple[str, str], int] = {}
        live = [
            (pid, p) for pid, p in enumerate(pair_list)
            if df_of.get(p[0], 0) > 0 and df_of.get(p[1], 0) > 0
        ]
        if live:
            counts = self.bool_count(
                [
                    (pid, {"must": [{"match_phrase": {
                        "query": f"{a} {b}"}}]})
                    for pid, (a, b) in live
                ],
                field=field,
            ).collect()
            by_pid = {int(r["query_id"]): int(r["total"]) for r in counts}
            for pid, p in live:
                bi_df[p] = by_pid.get(pid, 0)

        def cond_p(prev: str, w: str) -> float:
            bc = bi_df.get((prev, w), 0)
            dprev = df_of.get(prev, 0)
            if bc > 0 and dprev > 0:
                return bc / dprev
            return discount * uni_p(w)

        def phrase_score(ws: list[str]) -> float:
            s = math.log(uni_p(ws[0]))
            for i in range(1, len(ws)):
                s += math.log(cond_p(ws[i - 1], ws[i]))
            return s

        # 4. exact k-best Viterbi over (position, candidate, errors)
        beam = max(size * 4, 10)
        # state: (cand, errors) → list of (score, path) kept to beam
        states: dict[tuple[str, int], list] = {}
        for c in cands.get(toks[0], [toks[0]]):
            e = 0 if c == toks[0] else 1
            if e <= n_errors:
                states.setdefault((c, e), []).append(
                    (math.log(uni_p(c)), (c,))
                )
        for i in range(1, len(toks)):
            nxt: dict[tuple[str, int], list] = {}
            for c in cands.get(toks[i], [toks[i]]):
                de = 0 if c == toks[i] else 1
                for (prev, e), paths in states.items():
                    ne = e + de
                    if ne > n_errors:
                        continue
                    step = math.log(cond_p(prev, c))
                    bucket = nxt.setdefault((c, ne), [])
                    for sc, path in paths:
                        bucket.append((sc + step, path + (c,)))
            # beam truncation pinned like the final rank: score desc,
            # then suggestion asc (ties never depend on dict order)
            states = {
                k: sorted(v, key=lambda x: (-x[0], x[1]))[:beam]
                for k, v in nxt.items()
            }
        final = [p for paths in states.values() for p in paths]
        input_score = phrase_score(toks)
        gate = (
            input_score + math.log(confidence) if confidence > 0
            else -math.inf
        )
        out_rows = []
        seen_s: set[str] = set()
        for sc, path in sorted(final, key=lambda x: (-x[0], x[1])):
            sug = " ".join(path)
            if sug == " ".join(toks) or sug in seen_s or sc <= gate:
                continue
            seen_s.add(sug)
            out_rows.append((text, len(out_rows) + 1, sug, float(sc)))
            if len(out_rows) >= size:
                break
        return local_rows_df(self.spark, 
            out_rows,
            schema="text string, rank long, suggestion string, "
                   "score double",
        )

    def suggest_completions(
        self,
        prefixes: list[str],
        field: str | None = None,
        size: int = 5,
    ) -> DataFrame:
        """ES completion suggester, emulated over the terms DICTIONARY
        (reference context: the completion fields its ES cluster would
        serve from an FST): each prefix → the top-``size`` indexed
        terms starting with it, ranked by document frequency desc
        (popularity) then term asc, as ``(prefix, rank, option,
        score=df)``.

        Scale shape: the per-dir dictionary scans are prefix-filtered
        (term-sorted parquet files → min/max row-group pruning), df is
        summed across delta dirs in one hash-agg, and the per-prefix
        cap is a rank window applied IN-PLAN — the driver never sees
        more than prefixes×size rows at any vocabulary size. Raw
        dictionary df (not tombstone-corrected): the suggester ranks
        candidate strings, it does not score docs — a documented
        deviation bounded by the index's deleted-doc count."""
        from pyspark.sql import Window as W

        if not prefixes:
            raise ValueError("suggest_completions needs at least one prefix")
        if any((not p) or (" " in p) for p in prefixes):
            raise ValueError("completion prefixes are single non-empty terms")
        scans = [
            self._parquet(f"{p}/terms").select("term", "df")
            for _, p in self.dirs
        ]
        vocab = scans[0]
        for sc in scans[1:]:
            vocab = vocab.unionByName(sc)
        if field is not None:
            fp = f"{field}:"
            vocab = vocab.filter(F.col("term").startswith(fp)).withColumn(
                "bare", F.expr(f"substring(term, {len(fp) + 1})")
            )
        else:
            vocab = vocab.withColumn("bare", F.col("term"))
        vocab = vocab.groupBy("bare").agg(F.sum("df").alias("df"))
        pairs = vocab.select(
            "bare", "df",
            F.explode(F.array(*[F.lit(p) for p in prefixes])).alias("qp"),
        ).filter(F.col("bare").startswith(F.col("qp")))
        w = W.partitionBy("qp").orderBy(F.desc("df"), F.asc("bare"))
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(size))
            .select(
                F.col("qp").alias("prefix"),
                F.col("rank").cast("long"),
                F.col("bare").alias("option"),
                F.col("df").cast("double").alias("score"),
            )
        )

    def prefix_variants(
        self,
        prefixes: list[str],
        field: str | None = None,
        max_expansions: int = 50,
    ) -> dict[str, list[str]]:
        """ES prefix expansion against the terms DICTIONARY: each
        prefix → indexed terms starting with it, in term order, capped
        at ``max_expansions`` (the ES prefix / match_bool_prefix
        behaviour). The cap is applied IN-PLAN (see
        :meth:`_capped_expansion`), so the driver materializes at most
        prefixes×max_expansions rows regardless of vocabulary size.
        On fielded indexes the scan is pruned to ``field`` and
        prefixes compare on the bare token. Returned variants are
        STORED term keys."""
        capped = self._capped_expansion(
            prefixes,
            lambda bare, probe: bare.startswith(probe),
            field,
            max_expansions,
        )
        out: dict[str, list[str]] = {p: [] for p in prefixes}
        for r in capped.collect():
            out[r["qp"]].append(r["term"])
        return {p: sorted(v) for p, v in out.items()}

    def wildcard_variants(
        self,
        patterns: list[str],
        field: str | None = None,
        max_expansions: int = 50,
    ) -> dict[str, list[str]]:
        """ES ``wildcard`` expansion against the terms dictionary:
        ``*`` matches any run, ``?`` one character (translated to SQL
        LIKE — the predicate runs JVM-side over the vocabulary scan,
        postings never touched), capped IN-PLAN per pattern like
        :meth:`prefix_variants`. Patterns are validated to the
        analyzer's alphabet plus wildcards, so LIKE metacharacters
        cannot be smuggled in. Returned variants are STORED term
        keys. A leading-``*`` pattern is allowed (the dictionary scan
        is a full vocabulary pass either way — one terms-table scan,
        never a postings scan)."""
        import re

        for p in patterns:
            if not re.fullmatch(r"[a-z0-9*?]+", p):
                raise ValueError(
                    f"wildcard pattern {p!r}: only [a-z0-9], * and ? "
                    "(the analyzer alphabet) are supported"
                )
        like_of = {p: p.replace("*", "%").replace("?", "_") for p in patterns}
        inv = {v: k for k, v in like_of.items()}
        capped = self._capped_expansion(
            list(like_of.values()),
            lambda bare, qp: F.expr("bare LIKE qp"),
            field,
            max_expansions,
        )
        out: dict[str, list[str]] = {p: [] for p in patterns}
        for r in capped.collect():
            out[inv[r["qp"]]].append(r["term"])
        return {p: sorted(v) for p, v in out.items()}

    def regexp_variants(
        self,
        patterns: list[str],
        field: str | None = None,
        max_expansions: int = 50,
    ) -> dict[str, list[str]]:
        """ES ``regexp`` expansion: the pattern must match the WHOLE
        term (ES anchors regexp queries), evaluated as an anchored
        RLIKE over the vocabulary scan, capped IN-PLAN per pattern.
        Patterns are compile-checked up front so a malformed regex
        fails fast on the driver, not inside a task."""
        import re

        for p in patterns:
            re.compile(p)  # malformed → ValueError here, not in a task
        anch = {p: f"^(?:{p})$" for p in patterns}
        inv = {v: k for k, v in anch.items()}
        capped = self._capped_expansion(
            list(anch.values()),
            lambda bare, qp: F.expr("bare RLIKE qp"),
            field,
            max_expansions,
        )
        out: dict[str, list[str]] = {p: [] for p in patterns}
        for r in capped.collect():
            out[inv[r["qp"]]].append(r["term"])
        return {p: sorted(v) for p, v in out.items()}

    def prefix_topk(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        max_expansions: int = 50,
        field: str | None = None,
        n_ranges: int | None = None,
        from_: int = 0,
        search_after: dict[int, tuple[float, int]] | None = None,
    ) -> DataFrame:
        """ES ``match_bool_prefix`` (the search-as-you-type primitive):
        every token of the query matches exactly except the LAST,
        which matches every indexed term it prefixes — each expansion
        scores as its own term with its own df/idf, disjunctively
        (should semantics), exactly like ES. Routed through the
        distributed WAND machinery: an expansion is just another
        cursor, so the scale shape is identical to :meth:`topk_wand`
        and the dictionary scan (never the postings) is the only extra
        cost — including ``search_after`` (expansion cursors score
        pinned sums like any WAND cursor, so the in-kernel exact
        cursor comparison applies unchanged)."""
        return self.topk_wand(
            queries, k=k, n_ranges=n_ranges, field=field, from_=from_,
            prefix_expansions=max_expansions, search_after=search_after,
        )

    def phrase_prefix_topk(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        n_ranges: int | None = None,
        field: str | None = None,
        from_: int = 0,
        max_expansions: int = 50,
        search_after: dict[int, tuple[float, int]] | None = None,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (search-as-you-type phrases):
        the query's tokens must occur consecutively, with the LAST
        token matching any indexed term it prefixes. Expansion is the
        capped in-plan dictionary scan (≤ max_expansions per prefix,
        term order — the ES default 50); each expansion forms its own
        exact phrase, evaluated inside the positional kernel against
        the SAME decoded streams, and a doc scores the MAX over its
        matching expansion phrases (dis_max across expansions — a
        documented deviation from Lucene's MultiPhraseQuery blended
        statistics, chosen because it is exact, rankable per (dir,
        range) partition, and SQL-twinnable). Partitioned like
        :meth:`phrase_topk`: per (query, dir, range) local top-k over
        range-pruned segments, global WindowGroupLimit merge."""
        from pyspark.sql import Window as W

        self._require_positions("phrase_prefix_topk")
        fld = self._resolve_field(field)
        seqs = {
            qid: [self._term_of(t, fld) for t in self._tokenize(text)]
            for qid, text in queries
        }
        last_raw = {
            qid: toks[-1]
            for qid, text in queries
            if (toks := self._tokenize(text))
        }
        vmap = self.prefix_variants(
            sorted(set(last_raw.values())), field=fld,
            max_expansions=max_expansions,
        )
        variants = {qid: vmap[tok] for qid, tok in last_raw.items()}
        matched = self._matched_segments(
            queries, field=field, prefix_expansions=max_expansions
        )
        if matched is None:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        k_local = from_ + k
        ranged = self._ranged(matched, n_ranges or 1)
        run = self._phrase_group_kernel(
            k_local, seqs, variants=variants, after=search_after
        )
        partials = ranged.groupBy("query_id", "ord", "range_id").applyInPandas(
            run, schema=TOPK_SCHEMA + ", range_id int"
        )
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= k_local))
            .select("query_id", "rank", "doc_id", "score")
        )

    def _matched_segments(
        self,
        queries: list[tuple[int, str]],
        fuzziness: int = 0,
        field: str | None = None,
        fields: list[str] | None = None,
        prefix_expansions: int | None = None,
        field_boosts: dict | None = None,
        blend_df: bool = False,
        per_field_qids: bool = False,
    ) -> DataFrame | None:
        """Shared front half: postings segments term-pruned (across
        base + delta dirs) and joined to the broadcast
        (query_id, term, idf, avgdl) table. idf uses the LIVE df and
        N; avgdl is the term's FIELD's (fielded indexes score each
        field with its own length statistics, the ES per-field BM25).

        ``fields`` expands every query token across several fields at
        once — each (field, token) is an independent scoring term, so
        the ordinary sum machinery downstream computes exactly ES
        ``multi_match type=most_fields``. ``field_boosts`` (keyed by
        the caller's field names) scales each field's idf — the ES
        ``field^boost`` multiplier, applied at cursor level so every
        downstream path (sum, WAND, dis_max agg) sees boosted
        contributions."""
        qt = self._query_terms(
            queries, fuzziness, field, fields, prefix_expansions,
            field_boosts, blend_df, per_field_qids,
        )
        if qt is None:
            return None
        meta, present = qt
        return self._attach_query_terms(self._pruned_postings(meta), present)

    def _query_terms(
        self,
        queries: list[tuple[int, str]],
        fuzziness: int = 0,
        field: str | None = None,
        fields: list[str] | None = None,
        prefix_expansions: int | None = None,
        field_boosts: dict | None = None,
        blend_df: bool = False,
        per_field_qids: bool = False,
    ) -> tuple[dict[str, dict], list[tuple]] | None:
        """The driver-side part of :meth:`_matched_segments`: the
        query terms' dictionary meta and the (query_id, term, idf,
        avgdl) rows of the terms present in the index, or None when
        no query term is."""
        flist = fields if fields is not None else [field]
        boosts = field_boosts or {}
        # per_field_qids: emit qid·|fields|+field_index so downstream
        # kernels keep per-field groups while ONE scan serves every
        # field (multi_match best_fields — callers divide back)
        nf = len(flist)
        qterms: list[tuple[int, str, float, float, str]] = []
        for fi, fld_raw in enumerate(flist):
            fld = self._resolve_field(fld_raw)
            avg = self._avgdl_of(fld)
            bst = float(boosts.get(fld_raw, 1.0))

            def syn(qid, _fi=fi):
                return qid * nf + _fi if per_field_qids else qid

            if fuzziness:
                toks = sorted({t for _, text in queries for t in self._tokenize(text)})
                variants = self.fuzzy_variants(toks, fuzziness, field=fld)
                for qid, text in queries:
                    expanded = sorted(
                        {v for t in set(self._tokenize(text)) for v in variants[t]}
                    )
                    qterms += [(syn(qid), v, avg, bst, v) for v in expanded]
            elif prefix_expansions:
                # match_bool_prefix: last token expands as a prefix,
                # the rest match exactly (disjunctive, per-variant idf)
                per_q = {
                    qid: toks
                    for qid, text in queries
                    if (toks := self._tokenize(text))
                }
                vmap = self.prefix_variants(
                    sorted({t[-1] for t in per_q.values()}),
                    field=fld,
                    max_expansions=prefix_expansions,
                )
                for qid, toks in per_q.items():
                    terms = sorted(
                        {self._term_of(t, fld) for t in toks[:-1]}
                        | set(vmap[toks[-1]])
                    )
                    qterms += [(syn(qid), t, avg, bst, t) for t in terms]
            else:
                for qid, text in queries:
                    for t in sorted(set(self._tokenize(text))):
                        qterms.append(
                            (syn(qid), self._term_of(t, fld), avg, bst, t)
                        )
        if not qterms:
            return None
        meta = self._term_meta(sorted({t for _, t, _, _, _ in qterms}))
        df_of = {}
        if blend_df:
            # blended df per bare token: max over its field variants
            for _qid, t, _avg, _bst, bare in qterms:
                if t in meta and meta[t]["df"] > 0:
                    df_of[bare] = max(df_of.get(bare, 0), meta[t]["df"])
        present = [
            (qid, t,
             _idf(self.n_docs,
                  df_of[bare] if blend_df else meta[t]["df"]) * bst,
             avg)
            for qid, t, avg, bst, bare in qterms
            if t in meta and meta[t]["df"] > 0
        ]
        if not present:
            return None
        return meta, present

    # segments × query-terms attach: above this many (query, term)
    # rows the literal map expression stops being worth parsing and
    # the broadcast-join path takes over (huge MLT/fuzzy expansions)
    _LITERAL_ATTACH_MAX = 4096

    def _attach_query_terms(
        self, pruned: DataFrame, present: list[tuple]
    ) -> DataFrame:
        """Attach (query_id, idf, avgdl) to each matched postings
        segment. The query-term table is driver-known and tiny, so it
        is inlined as ONE literal map expression —
        ``explode(element_at(map(term → array<struct>), term))`` — no
        broadcast exchange, no build job, no join: the postings scan
        flows straight into the scoring kernel in a single codegen
        stage (guide §2.4 remove shuffles outright; §1 fewer jobs).
        Inner-join semantics are preserved (element_at yields NULL for
        absent keys and explode drops NULL arrays). Falls back to the
        broadcast hash join for very large expansions."""
        if len(present) > self._LITERAL_ATTACH_MAX:
            qdf = local_rows_df(
                self.spark, present,
                schema="query_id long, term string, idf double, avgdl double",
            )
            return pruned.join(F.broadcast(qdf), "term")
        by_term: dict[str, list[tuple]] = {}
        for qid, t, idf_v, avg in present:
            by_term.setdefault(t, []).append((qid, idf_v, avg))
        entries = []
        for t, lst in by_term.items():
            arr = ", ".join(
                f"named_struct('query_id', {int(q)}L, 'idf', {float(i)!r}D,"
                f" 'avgdl', {float(a)!r}D)"
                for q, i, a in lst
            )
            entries.append(f"{_sql_str(t)}, array({arr})")
        lookup = f"element_at(map({', '.join(entries)}), term)"
        return pruned.withColumn(
            "_q", F.expr(f"explode({lookup})")
        ).select("*", "_q.query_id", "_q.idf", "_q.avgdl").drop("_q")

    def _attach_clause_rows(
        self, contribs: DataFrame, crows: list[tuple]
    ) -> DataFrame:
        """(query_id, doc_id, contrib) rows → per-clause
        (query_id, doc_id, cid, wc) rows via the driver-known
        (query_id, term) → [(clause_id, weight)…] fan-out, inlined as
        a literal map on a composite key (no broadcast exchange, no
        join — the bool-tree fan-out rides the scoring kernel's
        codegen stage). Broadcast-join fallback above the literal
        bound."""
        if len(crows) > self._LITERAL_ATTACH_MAX:
            cdf = local_rows_df(
                self.spark, crows,
                schema="query_id long, term string, cid int, w double",
            )
            return contribs.join(F.broadcast(cdf), ["query_id", "term"]).select(
                "query_id", "doc_id", "cid",
                (F.col("contrib") * F.col("w")).alias("wc"),
            )
        by_key: dict[tuple[int, str], list[tuple]] = {}
        for qid, t, cid, w in crows:
            by_key.setdefault((qid, t), []).append((cid, w))
        entries = []
        for (qid, t), lst in by_key.items():
            arr = ", ".join(
                f"named_struct('cid', {int(cid)}, 'w', {float(w)!r}D)"
                for cid, w in lst
            )
            entries.append(f"{_sql_str(f'{qid}|{t}')}, array({arr})")
        lookup = (
            f"element_at(map({', '.join(entries)}), "
            f"concat(cast(query_id as string), '|', term))"
        )
        return contribs.withColumn(
            "_e", F.expr(f"explode({lookup})")
        ).select(
            "query_id", "doc_id", F.col("_e.cid").alias("cid"),
            (F.col("contrib") * F.col("_e.w")).alias("wc"),
        )

    # -- document fetch (the ES GET/_source surface) -------------------------

    def fetch(self, doc_ids: list[int]) -> DataFrame:
        """The LIVE stored version of each requested doc from the docs
        tables (ES GET by id). Returns whatever the build stored:
        always (doc_id, text_md5[, url]); plus ``text`` when the index
        was built with ``IndexConfig(store_source=True)`` — the ES
        ``_source`` behaviour. The id list becomes a pushed parquet
        filter, so only matching row groups are read."""
        parts = []
        for o, p in self.dirs:
            parts.append(
                self._parquet(f"{p}/docs")
                .filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
                .withColumn("ord", F.lit(o))
            )
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part, allowMissingColumns=True)
        if self.kills:
            kills_df = local_rows_df(self.spark, 
                list(self.kills.items()), schema="doc_id long, kill_ord int"
            )
            out = out.join(F.broadcast(kills_df), "doc_id", "left").filter(
                F.col("kill_ord").isNull() | (F.col("ord") >= F.col("kill_ord"))
            ).drop("kill_ord")
        return out.drop("ord")

    def search(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        n_ranges: int | None = None,
        highlight: bool = False,
        snippet_width: int = 80,
        phrase: bool = False,
        fuzziness: int = 0,
        field: str | None = None,
        fields: list[str] | None = None,
        match_type: str = "best_fields",
        from_: int = 0,
        sort_by: str | None = None,
        sort_ascending: bool = False,
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """ES ``match``-query shape: BM25 top-k hits JOINED to their
        stored documents — (query_id, rank, doc_id, score, …source
        columns). The hit id set (≤ |queries|·k) is collected and
        pushed into the docs scan as a literal filter; the big docs
        table is never shuffled. ``highlight=True`` (needs
        store_source) adds a ``snippet`` column — the window around
        the earliest query-term occurrence, per query. ``phrase=True``
        routes through the positional codec (match_phrase);
        ``fuzziness`` expands terms against the dictionary. ``field``
        scopes to one analyzed field; ``fields`` routes through
        :meth:`multi_match` (``match_type`` best_fields/most_fields).
        ``from_`` pages (ES from/size). ``sort_by`` orders hits by a
        STORED doc value over the full match set instead of _score
        (see :meth:`sort_topk`); ``tie_breaker`` feeds multi_match
        dis_max."""
        if sort_by:
            hits = self.sort_topk(
                queries, sort_by, k=k, ascending=sort_ascending,
                field=field, from_=from_,
            ).drop(sort_by)
        elif phrase:
            hits = self.phrase_topk(
                queries, k=k, n_ranges=n_ranges, field=field, from_=from_
            )
        elif fields:
            hits = self.multi_match(
                queries, k=k, fields=fields, match_type=match_type,
                n_ranges=n_ranges, from_=from_, tie_breaker=tie_breaker,
            )
        else:
            hits = self.topk_wand(
                queries, k=k, n_ranges=n_ranges, fuzziness=fuzziness,
                field=field, from_=from_,
            )
        rows = hits.collect()
        if not rows:
            return hits
        ids = sorted({int(r["doc_id"]) for r in rows})
        # _source is the STORED fields only — internal change-detection
        # and length-stats columns stay out of the hit payload
        docs = self.fetch(ids).drop("text_md5", "doc_len")
        docs = docs.drop(*[c for c in docs.columns if c.startswith("doc_len__")])
        hits_df = local_rows_df(self.spark, rows, schema=hits.schema)
        out = hits_df.join(F.broadcast(docs), "doc_id").select(
            "query_id", "rank", "doc_id", "score",
            *[c for c in docs.columns if c != "doc_id"],
        )
        if highlight:
            if "text" not in docs.columns:
                raise ValueError(
                    "highlight requires an index built with store_source=True"
                )
            from xml_to_es_spark.functions.analysis import snippet_col

            snip = None
            for qid, text in queries:
                terms = sorted(set(self._tokenize(text)))
                if not terms:
                    continue
                expr = snippet_col("text", terms, snippet_width)
                snip = (
                    F.when(F.col("query_id") == qid, expr)
                    if snip is None
                    else snip.when(F.col("query_id") == qid, expr)
                )
            out = out.withColumn(
                "snippet",
                snip if snip is not None else F.substring("text", 1, snippet_width),
            )
        return out

    @staticmethod
    def _sort_specs(
        by: str | list, ascending: bool
    ) -> list[tuple[str, bool]]:
        """Normalize a sort spec: a bare column (direction from
        ``ascending``) or a list of columns / (column, ascending)
        pairs — ES multi-field sort, applied in order."""
        if isinstance(by, str):
            return [(by, bool(ascending))]
        out = []
        for b in by:
            if isinstance(b, str):
                out.append((b, bool(ascending)))
            else:
                col, asc = b
                out.append((str(col), bool(asc)))
        if not out:
            raise ValueError("empty sort spec")
        return out

    @staticmethod
    def _after_sort_key(
        specs: list[tuple[str, bool]], after: tuple | list
    ) -> Column:
        """ES ``search_after`` on a sort-by-field page: the cursor is
        the last hit's SORT-KEY VALUES plus its doc_id (exactly what
        ES feeds back), and "after" is the lexicographic comparison
        over those exact stored values respecting each column's
        direction — deterministic across jobs because doc values are
        stored, not recomputed floats (no drift caveat here, unlike
        score cursors)."""
        if len(after) != len(specs) + 1:
            raise ValueError(
                f"search_after must carry one value per sort field plus "
                f"doc_id ({len(specs) + 1} values), got {len(after)}"
            )
        pred = F.col("doc_id") > F.lit(int(after[-1]))
        for (c, asc), v in zip(reversed(specs), reversed(after[:-1])):
            col, lit = F.col(c), F.lit(v)
            strict = col > lit if asc else col < lit
            pred = strict | (col.eqNullSafe(lit) & pred)
        return pred

    def _sort_tail(
        self,
        hits: DataFrame,
        specs: list[tuple[str, bool]],
        k: int,
        from_: int,
        docs: DataFrame | None,
        after: tuple | list | None = None,
    ) -> DataFrame:
        """Shared back half of the sort-by-field paths: join the
        column-pruned doc-values projection to a (query_id, doc_id,
        score) match set, rank with ONE WindowGroupLimit over the
        sort-key tuple (doc_id as the final tiebreak — a total
        order), slice the rank window. ``after`` (sort-key cursor)
        filters BEFORE ranking, so deep cursor pages keep the k-sized
        window at any depth (from_-paging pays from_+k)."""
        from pyspark.sql import Window as W

        cols = [c for c, _ in specs]
        dv = (
            docs.select("doc_id", *cols)
            if docs is not None
            else self._doc_values(cols)
        )
        joined = hits.join(dv, "doc_id")
        if after is not None:
            if from_:
                raise ValueError("search_after and from_ are exclusive")
            joined = joined.filter(self._after_sort_key(specs, after))
        order = [
            F.asc(c) if asc else F.desc(c) for c, asc in specs
        ] + [F.asc("doc_id")]
        w = W.partitionBy("query_id").orderBy(*order)
        return (
            joined
            .withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
            .select("query_id", "rank", "doc_id", *cols, "score")
        )

    def bool_count(
        self,
        queries: list[tuple[int, dict]],
        field: str | None = None,
        docs: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``_count``: the number of matching docs per query, no
        paging, no scores fetched to the driver. Accepts the same
        specs as :meth:`bool_topk` (flat role dicts or rich nested
        trees — match/phrase queries count via their bool-tree
        equivalents). Scale shape: the one-scan match set + ONE
        count agg; queries with zero hits still return a row
        (count 0), like ES. Returns (query_id, total)."""
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        qids = local_rows_df(self.spark, 
            [(int(q),) for q, _ in queries], schema="query_id long"
        )
        if hits is None:
            return qids.select("query_id", F.lit(0).cast("long").alias("total"))
        counts = hits.groupBy("query_id").agg(
            F.count("*").cast("long").alias("total")
        )
        return (
            qids.join(counts, "query_id", "left")
            .select("query_id", F.coalesce("total", F.lit(0)).alias("total"))
        )

    def bool_match_hits(
        self,
        queries: list[tuple[int, dict]],
        field: str | None = None,
    ) -> DataFrame:
        """The FULL match set — (query_id, doc_id, score), no ranking
        tail, no top-k, nothing collected. The scale-honest SCROLL:
        ES scroll/PIT exists to page an entire match set out of a
        server; here the match set already IS a distributed DataFrame
        — join it, aggregate it, or write it to parquet directly.
        Accepts the same specs as :meth:`bool_topk` (flat roles or
        rich nested trees)."""
        hits = self._bool_tree_match_set(queries, field=field)
        if hits is None:
            return local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        return hits.select(
            F.col("query_id").cast("long"),
            F.col("doc_id").cast("long"),
            F.col("score").cast("double"),
        )

    def bool_match_ids(
        self,
        queries: list[tuple[int, dict]],
        field: str | None = None,
    ) -> DataFrame:
        """The FULL match set as ids only — (query_id, doc_id). The
        front half of the ES ``_delete_by_query`` /
        ``_update_by_query`` surfaces: the match set stays a DataFrame
        end-to-end, so a query matching 10^9 docs feeds the kill log /
        re-index upsert without ever visiting the driver."""
        return self.bool_match_hits(queries, field=field).select(
            "query_id", "doc_id"
        )

    def rescore_topk(
        self,
        queries: list[tuple[int, dict]],
        rescore: list[tuple[int, dict]],
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_query_weight: float = 1.0,
        field: str | None = None,
    ) -> DataFrame:
        """ES ``rescore``: re-rank the top ``window_size`` hits of the
        first-pass query by ``query_weight·score +
        rescore_query_weight·rescore_score`` — the classic
        cheap-BM25-then-expensive-phrase pattern. Both legs accept any
        bool-expressible spec (:meth:`bool_topk` form), so the
        rescorer is typically a match_phrase leaf evaluated by the
        positional kernel over its FULL match set (no top-k pruning —
        a window doc's phrase score is exact wherever it ranks
        globally, which a second top-k pass could not guarantee).

        Window docs NOT matching the rescorer keep
        ``query_weight·score`` (the ES behaviour); ``k`` must be ≤
        ``window_size`` — the returned page comes entirely from the
        rescored window (ES appends un-rescored hits past the window;
        this surface keeps requests window-bounded and says so).

        Scale shape: first pass is the ordinary one-scan bool top-k;
        the rescore match set is semi-joined down to the window by a
        BROADCAST of the (≤ window_size) first-pass page before the
        (window-sized) left join — the big rescore set is never
        shuffled on its own."""
        if k > window_size:
            raise ValueError(
                f"size {k} exceeds rescore window_size {window_size} — "
                "the page must come from the rescored window"
            )
        from pyspark.sql import Window as W

        first = self.bool_topk(queries, k=window_size, field=field)
        rs = self._bool_tree_match_set(rescore, field=field)
        # localize the (≤ window_size·|queries|) first-pass page ONCE:
        # it feeds both the semi-join broadcast and the left side below,
        # and as a lazy plan the whole first-pass ranking would execute
        # twice (guide §7.2 duplicated-subtree check)
        page_rows = [
            (int(r["query_id"]), int(r["doc_id"]), float(r["score"]))
            for r in first.select("query_id", "doc_id", "score").collect()
        ]
        page = local_rows_df(
            self.spark, page_rows, "query_id long, doc_id long, score double"
        )
        # the rescore match set is corpus-shaped, so the semi-join down
        # to the window stays distributed; everything AFTER it operates
        # on ≤ window_size·|queries| rows — combine weights and re-rank
        # driver-side (the ES-coordinator merge), replacing the left
        # join + rank-window stages. Python floats are IEEE doubles and
        # the arithmetic order is unchanged, so scores are bit-equal.
        rs_scores: dict[tuple[int, int], float] = {}
        if rs is not None:
            rs_w = rs.select(
                "query_id", "doc_id", F.col("score").alias("rescore_score")
            ).join(
                F.broadcast(page.select("query_id", "doc_id")),
                ["query_id", "doc_id"],
                "left_semi",
            )
            for r in rs_w.collect():
                rs_scores[(int(r["query_id"]), int(r["doc_id"]))] = float(
                    r["rescore_score"]
                )
        byq: dict[int, list[tuple[float, int]]] = {}
        qw, rw = float(query_weight), float(rescore_query_weight)
        for qid, doc, s in page_rows:
            byq.setdefault(qid, []).append(
                (qw * s + rw * rs_scores.get((qid, doc), 0.0), doc)
            )
        rows = []
        for qid in sorted(byq):
            hits = sorted(byq[qid], key=lambda sd: (-sd[0], sd[1]))[: int(k)]
            rows += [
                (qid, rank, d, s)
                for rank, (s, d) in enumerate(hits, 1)
            ]
        return local_rows_df(self.spark, rows, schema=TOPK_SCHEMA)

    # ES field_value_factor modifiers (log* are log10-based, the ES
    # definitions; ln* are natural-log)
    _FVF_MODIFIERS = {
        "none": lambda c: c,
        "log": lambda c: F.log10(c),
        "log1p": lambda c: F.log10(c + F.lit(1.0)),
        "log2p": lambda c: F.log10(c + F.lit(2.0)),
        "ln": lambda c: F.log(c),
        "ln1p": lambda c: F.log(c + F.lit(1.0)),
        "ln2p": lambda c: F.log(c + F.lit(2.0)),
        "square": lambda c: c * c,
        "sqrt": lambda c: F.sqrt(c),
        "reciprocal": lambda c: F.lit(1.0) / c,
    }
    _SCORE_MODES = ("multiply", "sum", "avg", "max", "min", "first")
    _BOOST_MODES = ("multiply", "replace", "sum", "avg", "max", "min")

    def _function_cols(
        self, functions: list[dict]
    ) -> tuple[list, list[str]]:
        """Compile the ES ``functions`` array to per-function column
        specs. Returns ([(match_pred, raw_value, weight)], doc-value
        columns referenced). Everything is a pure JVM expression —
        supported function kinds:

        - ``{"weight": w}``: constant factor (raw value 1);
        - ``{"field_value_factor": {"field", "factor", "modifier",
          "missing"}}``: ``modifier(factor · value)`` with the ES
          modifier set (log/log1p/log2p are log10-based, ln* natural);
          ``missing`` is REQUIRED here — ES throws per-document when
          the field is absent, which a column expression cannot, so
          the default is explicit;
        - ``{"gauss"|"exp"|"linear": {field: {"origin", "scale",
          "offset", "decay"}}}``: the ES numeric decay curves (docs
          missing the field decay to 1.0, the ES behaviour);
        - any of the above plus ``"filter"``: a STRUCTURED clause
          (term/terms/range/exists over stored doc values) gating
          whether the function applies — text-match filters would
          need the postings scan and are rejected (documented).
        """
        compiled, cols = [], []
        for fn in functions:
            fn = dict(fn)
            filt = fn.pop("filter", None)
            weight = float(fn.pop("weight", 1.0))
            pred = F.lit(True)
            if filt is not None:
                (fkind, _), = filt.items()
                if fkind == "match" or fkind not in self._STRUCTURED_KINDS:
                    raise ValueError(
                        f"function filter kind {fkind!r}: only structured "
                        "doc-value filters (term/terms/range/exists) gate "
                        "score functions"
                    )
                pred = F.expr(self._structured_pred_sql(filt))
                cols.append(self._clause_col(filt))
            if not fn:
                compiled.append((pred, F.lit(1.0), weight))
                continue
            if len(fn) != 1:
                raise ValueError(
                    f"one function kind per entry, got {sorted(fn)}"
                )
            (kind, spec), = fn.items()
            if kind == "field_value_factor":
                spec = dict(spec)
                bad = set(spec) - {"field", "factor", "modifier", "missing"}
                if bad:
                    raise ValueError(
                        f"field_value_factor: unknown option(s) {sorted(bad)}"
                    )
                if "missing" not in spec:
                    raise ValueError(
                        "field_value_factor requires an explicit 'missing' "
                        "value (ES throws per-document on absent fields; a "
                        "distributed expression must pick the value up front)"
                    )
                mod = str(spec.get("modifier", "none"))
                if mod not in self._FVF_MODIFIERS:
                    raise ValueError(
                        f"unknown modifier {mod!r}; expected one of "
                        f"{sorted(self._FVF_MODIFIERS)}"
                    )
                col = F.coalesce(
                    F.col(spec["field"]).cast("double"),
                    F.lit(float(spec["missing"])),
                )
                raw = self._FVF_MODIFIERS[mod](
                    col * F.lit(float(spec.get("factor", 1.0)))
                )
                cols.append(spec["field"])
                compiled.append((pred, raw, weight))
                continue
            if kind in ("gauss", "exp", "linear"):
                (dfld, dspec), = spec.items()
                dspec = dict(dspec)
                bad = set(dspec) - {"origin", "scale", "offset", "decay"}
                if bad:
                    raise ValueError(
                        f"{kind} decay: unknown option(s) {sorted(bad)}"
                    )
                origin = float(dspec["origin"])
                scale = float(dspec["scale"])
                offset = float(dspec.get("offset", 0.0))
                decay = float(dspec.get("decay", 0.5))
                if not (0.0 < decay < 1.0) or scale <= 0:
                    raise ValueError(
                        f"{kind} decay needs scale > 0 and 0 < decay < 1"
                    )
                dist = F.greatest(
                    F.abs(F.col(dfld).cast("double") - F.lit(origin))
                    - F.lit(offset),
                    F.lit(0.0),
                )
                if kind == "gauss":
                    import math as _m

                    sigma2 = -(scale * scale) / (2.0 * _m.log(decay))
                    val = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
                elif kind == "exp":
                    import math as _m

                    lam = _m.log(decay) / scale
                    val = F.exp(F.lit(lam) * dist)
                else:  # linear
                    s = scale / (1.0 - decay)
                    val = F.greatest(
                        (F.lit(s) - dist) / F.lit(s), F.lit(0.0)
                    )
                # ES: a doc missing the decay field scores 1.0
                raw = F.coalesce(val, F.lit(1.0))
                cols.append(dfld)
                compiled.append((pred, raw, weight))
                continue
            raise ValueError(
                f"unsupported score function {kind!r}; expected weight / "
                "field_value_factor / gauss / exp / linear (script_score "
                "and random_score are not supported: the first needs "
                "painless, the second is nondeterministic)"
            )
        return compiled, sorted(set(cols))

    def function_score_topk(
        self,
        queries: list[tuple[int, dict]],
        functions: list[dict],
        k: int = 10,
        boost_mode: str = "multiply",
        score_mode: str = "multiply",
        max_boost: float | None = None,
        min_score: float | None = None,
        field: str | None = None,
        from_: int = 0,
        docs: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``function_score``: re-weight the bool match set's BM25
        scores by document-value functions — the standard ES
        recency/popularity/quality boost. ``queries`` take any
        :meth:`bool_topk` spec; ``functions`` is the ES array (see
        :meth:`_function_cols` for the supported kinds and the
        explicit-``missing`` rule).

        Combination follows ES: per doc, the functions whose filters
        match combine under ``score_mode`` (multiply / sum / max /
        min / first / avg — avg is the ES WEIGHTED average
        Σ(wᵢ·fᵢ)/Σwᵢ), the combined value is capped at ``max_boost``,
        then merges with the query score under ``boost_mode``
        (multiply / replace / sum / avg / max / min). A doc matching
        NO function keeps its query score unchanged. ``min_score``
        drops docs below the threshold AFTER combination (the ES
        semantics — it can unseat pre-boost winners, which is why it
        must run before the rank window, and does).

        Scale shape: the one-scan bool match set + ONE column-pruned
        doc-values join + pure JVM array expressions (the functions
        array is a literal of driver-known size) + the same
        WindowGroupLimit rank tail as :meth:`bool_topk`. No Python in
        the row path, nothing collected. Fold order inside a
        score_mode is the ``functions`` list order (pinned for
        oracle parity; ES documents no order, so any is faithful).

        Reference context: the reference's ES users boost crawl docs
        by freshness/length exactly this way on the index built by
        ElasticIndexer.js:76."""
        from pyspark.sql import Window as W

        if score_mode not in self._SCORE_MODES:
            raise ValueError(
                f"score_mode {score_mode!r}; expected one of "
                f"{self._SCORE_MODES}"
            )
        if boost_mode not in self._BOOST_MODES:
            raise ValueError(
                f"boost_mode {boost_mode!r}; expected one of "
                f"{self._BOOST_MODES}"
            )
        if not functions:
            raise ValueError("function_score needs at least one function")
        compiled, cols = self._function_cols(functions)
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        if cols:
            dv = (
                docs.select("doc_id", *cols)
                if docs is not None
                else self._doc_values(cols)
            )
            hits = hits.join(dv, "doc_id")
        structs = [
            F.struct(
                pred.alias("m"),
                (raw * F.lit(w)).cast("double").alias("val"),
                F.lit(w).alias("w"),
            )
            for pred, raw, w in compiled
        ]
        arr = F.filter(F.array(*structs), lambda s: s["m"])
        n = F.size(arr)
        if score_mode == "multiply":
            fn_score = F.aggregate(
                arr, F.lit(1.0), lambda acc, s: acc * s["val"]
            )
        elif score_mode == "sum":
            fn_score = F.aggregate(
                arr, F.lit(0.0), lambda acc, s: acc + s["val"]
            )
        elif score_mode == "avg":
            fn_score = F.aggregate(
                arr, F.lit(0.0), lambda acc, s: acc + s["val"]
            ) / F.aggregate(arr, F.lit(0.0), lambda acc, s: acc + s["w"])
        elif score_mode == "max":
            fn_score = F.array_max(F.transform(arr, lambda s: s["val"]))
        elif score_mode == "min":
            fn_score = F.array_min(F.transform(arr, lambda s: s["val"]))
        else:  # first
            fn_score = F.element_at(arr, 1)["val"]
        if max_boost is not None:
            fn_score = F.least(fn_score, F.lit(float(max_boost)))
        s = F.col("score")
        if boost_mode == "multiply":
            final = s * fn_score
        elif boost_mode == "replace":
            final = fn_score
        elif boost_mode == "sum":
            final = s + fn_score
        elif boost_mode == "avg":
            final = (s + fn_score) / F.lit(2.0)
        elif boost_mode == "max":
            final = F.greatest(s, fn_score)
        else:  # min
            final = F.least(s, fn_score)
        out = hits.withColumn(
            "score", F.when(n == 0, s).otherwise(final).cast("double")
        )
        if min_score is not None:
            out = out.filter(F.col("score") >= F.lit(float(min_score)))
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            out.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
            .select("query_id", "rank", "doc_id", "score")
        )

    _MLT_KEYS = {"like", "min_term_freq", "min_doc_freq", "max_doc_freq",
                 "max_query_terms", "minimum_should_match", "include"}

    def more_like_this_topk(
        self,
        queries: list[tuple[int, dict]],
        k: int = 10,
        field: str | None = None,
        from_: int = 0,
        docs: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``more_like_this``: find documents similar to free text
        and/or existing docs. Each spec::

            {"like": text | doc_id | [texts and doc_ids...],
             "min_term_freq": 2, "min_doc_freq": 5,
             "max_doc_freq": None, "max_query_terms": 25,
             "minimum_should_match": "30%", "include": False}

        Term selection is the ES algorithm: analyze the like text
        (doc-id likes fetch the LIVE stored ``_source`` — requires
        ``store_source=True``, exactly ES's own requirement), keep
        tokens with like-tf ≥ min_term_freq and corpus df within
        [min_doc_freq, max_doc_freq], rank by tf·idf (idf = the BM25
        idf; ties broken by term asc — pinned, ES leaves it
        unspecified) and keep the top max_query_terms. The selected
        terms run as a bool SHOULD query with minimum_should_match
        (percentages resolve against the selected-term count, floor,
        min 1 — a pure-should query always needs one match). Doc-id
        likes are excluded from the results unless ``include=True``
        (ES default) via a structured must_not.

        Scale shape: selection is DRIVER-side but bounded by the like
        input — like texts the caller provided plus fetched like docs
        (a pushed-id-filter read of len(like_ids) rows); the corpus is
        only touched by the dictionary df lookup (term-pruned, one
        job for ALL queries' candidates) and then by the ordinary
        one-scan bool machinery. A query whose selection is empty
        matches nothing (the ES behaviour). Queries with zero
        selected terms are dropped from the batch, not turned into
        corpus scans."""
        fld = self._resolve_field(field)
        specs: dict[int, tuple[dict, list[str], list[int]]] = {}
        all_ids: set[int] = set()
        for qid, spec in queries:
            spec = dict(spec)
            bad = set(spec) - self._MLT_KEYS
            if bad or "like" not in spec:
                raise ValueError(
                    f"more_like_this spec: unknown key(s) {sorted(bad)}"
                    if bad else "more_like_this needs 'like'"
                )
            likes = (spec["like"] if isinstance(spec["like"], list)
                     else [spec["like"]])
            texts, ids = [], []
            for like in likes:
                if isinstance(like, bool):
                    raise ValueError(f"bad like {like!r}")
                if isinstance(like, str):
                    texts.append(like)
                elif isinstance(like, int):
                    ids.append(int(like))
                else:
                    raise ValueError(
                        f"like entries are text or doc_id, got {like!r}"
                    )
            specs[int(qid)] = (spec, texts, ids)
            all_ids |= set(ids)
        like_texts: dict[int, str] = {}
        if all_ids:
            fetched = self.fetch(sorted(all_ids))
            if "text" not in fetched.columns:
                raise ValueError(
                    "doc-id likes need the stored _source — build with "
                    "IndexConfig(store_source=True), like ES requires "
                    "_source for more_like_this by id"
                )
            for r in fetched.select("doc_id", "text").collect():
                like_texts[int(r["doc_id"])] = r["text"] or ""
            missing = all_ids - set(like_texts)
            if missing:
                raise ValueError(f"like doc(s) not found: {sorted(missing)}")
        from collections import Counter

        cand: dict[int, dict[str, int]] = {}
        for qid, (spec, texts, ids) in specs.items():
            toks: list[str] = []
            for t in texts:
                toks += self._tokenize(t)
            for i in ids:
                toks += self._tokenize(like_texts[i])
            mtf = int(spec.get("min_term_freq", 2))
            cand[qid] = {
                t: c for t, c in Counter(toks).items() if c >= mtf
            }
        stored = sorted({
            self._term_of(t, fld) for c in cand.values() for t in c
        })
        meta = self._term_meta(stored) if stored else {}
        bqueries: list[tuple[int, dict]] = []
        for qid, (spec, _texts, ids) in specs.items():
            mdf = int(spec.get("min_doc_freq", 5))
            xdf = spec.get("max_doc_freq")
            mqt = int(spec.get("max_query_terms", 25))
            if mqt < 1:
                raise ValueError("max_query_terms must be >= 1")
            scored = []
            for tok, tfc in cand[qid].items():
                m = meta.get(self._term_of(tok, fld))
                if not m or m["df"] <= 0:
                    continue
                dfc = int(m["df"])
                if dfc < mdf or (xdf is not None and dfc > int(xdf)):
                    continue
                scored.append((tfc * _idf(self.n_docs, dfc), tok))
            scored.sort(key=lambda x: (-x[0], x[1]))
            sel = [tok for _, tok in scored[:mqt]]
            if not sel:
                continue
            msm = spec.get("minimum_should_match", "30%")
            if isinstance(msm, str) and msm.endswith("%"):
                need = max(1, (int(msm[:-1]) * len(sel)) // 100)
            else:
                need = int(msm)
            b: dict = {
                "should": [{"match": {"query": t}} for t in sel],
                "minimum_should_match": need,
            }
            if ids and not spec.get("include", False):
                b["must_not"] = [
                    {"terms": {"doc_id": [int(i) for i in ids]}}
                ]
            bqueries.append((qid, b))
        if not bqueries:
            return local_rows_df(self.spark, [], schema=TOPK_SCHEMA)
        return self.bool_topk(
            bqueries, k=k, field=field, from_=from_, docs=docs
        )

    def explain_hits(
        self,
        queries: list[tuple[int, str]],
        doc_ids: list[int],
        field: str | None = None,
    ) -> DataFrame:
        """ES ``_explain`` for match queries: the per-term BM25
        breakdown of the requested docs' scores — (query_id, doc_id,
        term, df, idf, tf_sat, contrib) with contrib = idf·tf_sat and
        Σcontrib = the doc's score on the scoring paths bit-for-bit
        (same decode kernel, same floats). ``tf_sat`` is the
        saturated term-frequency weight tf·(k1+1)/(tf+k1·norm) —
        disclosed deviation: ES prints raw tf and the norm separately,
        this surface reports their combined weight (sufficient to
        audit any score, and exactly what the kernel computes).

        Scale shape: the ordinary term+group-pruned postings scan with
        the doc filter applied right after the decode kernel, plus a
        broadcast of the O(query terms) df/idf table. Nothing
        collected."""
        ids = [int(d) for d in doc_ids]
        if not ids:
            raise ValueError("explain_hits needs at least one doc_id")
        fld = self._resolve_field(field)
        matched = self._matched_segments(queries, field=field)
        empty = ("query_id long, doc_id long, term string, df long, "
                 "idf double, tf_sat double, contrib double")
        if matched is None:
            return local_rows_df(self.spark, [], schema=empty)
        contribs = matched.mapInPandas(
            _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
            schema=CONTRIB_SCHEMA,
        ).filter(F.col("doc_id").isin(ids))
        toks = sorted({
            self._term_of(t, fld)
            for _, text in queries for t in self._tokenize(text)
        })
        meta = self._term_meta(toks)
        rows = [
            (t, int(m["df"]), _idf(self.n_docs, m["df"]))
            for t, m in meta.items() if m["df"] > 0
        ]
        if not rows:
            return local_rows_df(self.spark, [], schema=empty)
        tdf = local_rows_df(self.spark, 
            rows, schema="term string, df long, idf double"
        )
        return contribs.join(F.broadcast(tdf), "term").select(
            "query_id", "doc_id", "term", "df", "idf",
            (F.col("contrib") / F.col("idf")).alias("tf_sat"),
            "contrib",
        )

    def bool_top_hits(
        self,
        queries: list[tuple[int, dict]],
        group_by,
        k_hits: int = 3,
        field: str | None = None,
        docs: DataFrame | None = None,
        size: int | None = None,
    ) -> DataFrame:
        """ES ``top_hits`` sub-aggregation: the top ``k_hits`` SCORED
        hits within each bucket of the FULL match set — "show me the
        best 3 documents per language / per day". Accepts the same
        query specs as :meth:`bool_topk` and the same bucket specs as
        :meth:`search_aggs` (terms / histogram / date_histogram /
        range / filters).

        Scale shape: one scan + one (query, doc) hash-agg builds the
        scored match set, one shuffle-join attaches the bucket doc
        value, and ONE rank window partitioned by (query_id, bucket)
        keeps k_hits rows per bucket — Spark's WindowGroupLimit
        prunes to k_hits per partition BEFORE the shuffle, so a
        stopword query over 10^12 docs moves ≤ buckets·k_hits rows
        per partition, never the match set. ``size`` additionally
        keeps only the top ``size`` buckets by doc_count (ES
        terms-agg size), ranked in-plan.

        Returns (query_id, <bucket>, hit_rank, doc_id, score) — the
        flattened form of ES's hierarchical hits-in-buckets
        response."""
        from pyspark.sql import Window as W

        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        spec = self._norm_bucket(group_by)
        name, mode, expr, cols = self._bucket_col(spec)
        dv = docs if docs is not None else self._doc_values(sorted(set(cols)))
        b = (
            hits.select("query_id", "doc_id", "score")
            .join(dv, "doc_id")
            .withColumn(name, expr)
        )
        if mode == "multi":
            b = b.withColumn(name, F.explode(name))
        else:
            b = b.filter(F.col(name).isNotNull())
        b = b.select("query_id", name, "doc_id", "score")
        if size is not None:
            # ES terms-agg size on the carrying bucket: top-size
            # buckets by (doc_count desc, key asc), ranked in-plan
            counts = b.groupBy("query_id", name).agg(
                F.count("*").alias("_dc")
            )
            bw = W.partitionBy("query_id").orderBy(
                F.desc("_dc"), F.asc(name)
            )
            keep = (
                counts.withColumn("_br", F.row_number().over(bw))
                .filter(F.col("_br") <= int(size))
                .select("query_id", name)
            )
            b = b.join(keep, ["query_id", name], "left_semi")
        w = W.partitionBy("query_id", name).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            b.withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= int(k_hits))
            .select(
                "query_id", name,
                F.col("hit_rank").cast("long"), "doc_id", "score",
            )
        )

    def collapse_topk(
        self,
        queries: list[tuple[int, dict]],
        collapse: str,
        k: int = 10,
        field: str | None = None,
        docs: DataFrame | None = None,
        from_: int = 0,
    ) -> DataFrame:
        """ES field collapsing: the relevance page with ONE hit per
        distinct ``collapse`` doc value — the best-scoring doc of each
        group (the ES dedup-by-site pattern). Accepts the same specs
        as :meth:`bool_topk` (flat or rich; a plain match query is
        ``{"should": text}``).

        Scale shape: the one-scan bool match set, one doc-values
        join, then TWO WindowGroupLimits sharing the query_id
        partition family — first row_number over (query_id, collapse
        key) keeps each group's best (score desc, doc_id asc), then
        the per-query rank window slices the page. The collapsed
        ranking sees the FULL match set, so a page is exact at any
        group cardinality — nothing collected. Returns (query_id,
        rank, doc_id, <collapse>, score)."""
        from pyspark.sql import Window as W

        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        dv = (
            docs.select("doc_id", collapse)
            if docs is not None
            else self._doc_values([collapse])
        )
        order = [F.desc("score"), F.asc("doc_id")]
        best = W.partitionBy("query_id", collapse).orderBy(*order)
        page = W.partitionBy("query_id").orderBy(*order)
        return (
            hits.select("query_id", "doc_id", "score")
            .join(dv, "doc_id")
            .withColumn("_g", F.row_number().over(best))
            .filter(F.col("_g") == 1)
            .drop("_g")
            .withColumn("rank", F.row_number().over(page))
            .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
            .select("query_id", "rank", "doc_id", collapse, "score")
        )

    def bool_sort_topk(
        self,
        queries: list[tuple[int, dict]],
        by: str | list,
        k: int = 10,
        ascending: bool = False,
        field: str | None = None,
        docs: DataFrame | None = None,
        from_: int = 0,
        search_after: tuple | list | None = None,
    ) -> DataFrame:
        """ES sort-by-field over a BOOL query's full match set (flat
        role dicts or rich nested trees — the same one-scan machinery
        as :meth:`bool_topk`), ``by`` a column or list of columns /
        (column, ascending) pairs applied in order. Scale shape =
        the bool match set plus :meth:`_sort_tail`'s one doc-values
        join + one WindowGroupLimit."""
        specs = self._sort_specs(by, ascending)
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        return self._sort_tail(
            hits.select("query_id", "doc_id", "score"), specs, k, from_,
            docs, after=search_after,
        )

    def sort_topk(
        self,
        queries: list[tuple[int, str]],
        by: str | list,
        k: int = 10,
        ascending: bool = False,
        min_match: int | str | None = None,
        field: str | None = None,
        docs: DataFrame | None = None,
        from_: int = 0,
        search_after: tuple | list | None = None,
    ) -> DataFrame:
        """ES sort-by-field: the top-k hits of each query ordered by
        STORED DOC VALUES over the FULL match set (not a re-sort of
        the relevance top-k — ES replaces the _score ordering
        entirely, so the returned docs differ from :meth:`topk`'s).
        ``by`` is a column name or a list of columns / (column,
        ascending) pairs — ES multi-field sort, applied in order.
        BM25 score still rides along (ES track_scores).

        Scale shape = a partial-agg sum over the decoded postings plus
        one shuffle-join against the column-pruned doc-values
        projection: matches come
        off the same term+group-pruned decode, dedupe in one
        (query_id, doc_id) partial agg, join doc values on doc_id,
        rank with one WindowGroupLimit on (values, doc_id). Returns
        (query_id, rank, doc_id, <by...>, score)."""
        specs = self._sort_specs(by, ascending)
        dv = (
            docs.select("doc_id", *[c for c, _ in specs])
            if docs is not None
            else self._doc_values([c for c, _ in specs])
        )
        matched = self._matched_segments(queries, field=field)
        if matched is None:
            return dv.filter(F.lit(False)).select(
                F.lit(0).cast("long").alias("query_id"),
                F.lit(0).cast("int").alias("rank"),
                "doc_id",
                *[c for c, _ in specs],
                F.lit(0.0).alias("score"),
            )
        contribs = matched.mapInPandas(
            _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
            schema=CONTRIB_SCHEMA,
        )
        hits = contribs.groupBy("query_id", "doc_id").agg(
            F.sum("contrib").alias("score"),
            F.count("term").alias("n_matched"),
        )
        if min_match is not None:
            need = {
                qid: _min_match_count(min_match, len(set(self._tokenize(text))))
                for qid, text in queries
            }
            need_df = local_rows_df(self.spark, 
                list(need.items()), schema="query_id long, need int"
            )
            hits = hits.join(F.broadcast(need_df), "query_id").filter(
                F.col("n_matched") >= F.col("need")
            )
        return self._sort_tail(
            hits.select("query_id", "doc_id", "score"), specs, k, from_,
            docs, after=search_after,
        )

    _AGG_FNS = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        # exact distinct count (SQL-twin-able); "cardinality" is the
        # ES behaviour — approximate (HyperLogLog++), constant memory
        # per bucket at any corpus size
        "count_distinct": F.count_distinct,
        "cardinality": F.approx_count_distinct,
        # ES value_count: non-null VALUES, not distinct
        "count": F.count,
        # ES missing agg as a metric: docs without the field
        "missing": lambda c: F.sum(F.col(c).isNull().cast("long")),
    }

    def _doc_values(self, cols: list[str]) -> DataFrame:
        """Live-version doc-value columns from the index's own docs
        tables (populated by ``IndexConfig(stored_fields=...)``)."""
        from xml_to_es_spark.operators.index_build import live_docs

        lv = live_docs(self.spark, self.dir)
        missing = [c for c in cols if c not in lv.columns]
        if missing:
            raise ValueError(
                f"column(s) {missing} are not stored in this index — build "
                "with IndexConfig(stored_fields=...) or pass docs= explicitly"
            )
        # doc_id itself is a valid filter target (ES ids query)
        return lv.select("doc_id", *[c for c in cols if c != "doc_id"])

    _DATE_INTERVALS = (
        "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    )

    def search_aggs(
        self,
        queries: list[tuple[int, str]],
        group_by: str | tuple[str, float] | tuple[str, str],
        metrics: dict[str, tuple[str, str]] | None = None,
        min_match: int | str | None = None,
        field: str | None = None,
        docs: DataFrame | None = None,
        size: int | None = None,
    ) -> DataFrame:
        """ES search aggregations: a ``terms`` bucket agg — or, when
        ``group_by`` is ``(column, interval)``, an ES ``histogram``
        agg (numeric interval: bucket = floor(col/interval)·interval)
        or ``date_histogram`` (string calendar_interval in
        {year, quarter, month, week, day, hour, minute, second}:
        bucket = date_trunc over a timestamp/date doc value, the ES
        calendar-interval semantics), emitted as ``<col>_bucket`` —
        plus optional sub-aggs, over the FULL match set of each
        query, not the top-k page; ES aggs run on every matching doc.

        ``size``: the ES terms-agg ``size`` — only the top ``size``
        buckets PER QUERY by doc_count desc (bucket key asc on ties,
        the ES tiebreak) are returned; applied in-plan as a rank
        window over the bucket agg, so a high-cardinality group_by at
        CC scale never ships an unbounded bucket set to the caller.

        ``metrics``: {alias: (fn, column)} with fn in
        avg/sum/min/max/count_distinct/cardinality (``cardinality``
        is the ES semantics — approximate HLL++, constant memory per
        bucket; ``count_distinct`` is exact). Bucket and metric
        columns come from the index's stored doc values
        (``IndexConfig(stored_fields=...)``) or an explicit ``docs``
        DataFrame (doc_id + attribute columns).

        Scale shape: the match set is unbounded (a stopword query
        matches the whole corpus), so nothing is collected — match
        doc_ids come off the same term+group-pruned postings decode as
        scoring, are deduped by one (query_id, doc_id) partial-agg
        shuffle, shuffle-join the doc-values table on doc_id, and the
        bucket agg is a second partial-agg shuffle on
        (query_id, bucket). Returns (query_id, <group_by>, doc_count
        [, metric aliases…]).

        ``group_by`` also accepts dict bucket specs, a two-level
        nesting list, and the range/filters bucket kinds — see
        :meth:`_bucket_agg`; ``metrics`` additionally accepts
        ``("stats", col)`` and ``("percentile", col, p)``."""
        metrics = metrics or {}
        self._check_metrics(metrics)
        matched = self._matched_segments(queries, field=field)
        if matched is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, n_matched long"
            )
        else:
            contribs = matched.mapInPandas(
                _score_segments(self.cfg.k1, self.cfg.b, self._dead_by_ord),
                schema=CONTRIB_SCHEMA,
            )
            # (query_id, term, doc_id) rows are unique (dead-masked,
            # one live dir per pair) so count == count-distinct
            hits = contribs.groupBy("query_id", "doc_id").agg(
                F.count("term").alias("n_matched")
            )
        if min_match is not None:
            need = {
                qid: _min_match_count(min_match, len(set(self._tokenize(text))))
                for qid, text in queries
            }
            need_df = local_rows_df(self.spark, 
                list(need.items()), schema="query_id long, need int"
            )
            hits = hits.join(F.broadcast(need_df), "query_id").filter(
                F.col("n_matched") >= F.col("need")
            )
        return self._bucket_agg(hits, group_by, metrics, docs, size)

    def _norm_bucket(self, spec) -> dict:
        """Legacy group_by encodings → the dict bucket-spec form:
        ``"col"`` ≙ terms, ``(col, number)`` ≙ histogram,
        ``(col, "day")`` ≙ date_histogram."""
        if isinstance(spec, str):
            return {"terms": {"field": spec}}
        if isinstance(spec, tuple):
            col, interval = spec
            if isinstance(interval, str):
                return {"date_histogram": {"field": col,
                                           "calendar_interval": interval}}
            return {"histogram": {"field": col, "interval": interval}}
        if isinstance(spec, dict) and len(spec) == 1:
            return spec
        raise ValueError(f"unsupported bucket spec {spec!r}")

    def _bucket_col(self, spec: dict):
        """One normalized bucket spec → (name, mode, expr, cols):
        ``mode`` is "scalar" (one bucket per doc — terms/histogram/
        date_histogram) or "multi" (a doc lands in EVERY matching
        bucket — ES range/filters semantics, including overlap —
        realized as an array of matched keys exploded in-plan; a doc
        matching no range/filter drops out, the ES behaviour)."""
        (kind, b), = spec.items()
        if kind == "terms":
            gcol = b["field"]
            return gcol, "scalar", F.col(gcol), [gcol]
        if kind == "histogram":
            gcol, interval = b["field"], float(b["interval"])
            bucket = F.floor(F.col(gcol) / F.lit(interval)) * F.lit(interval)
            if interval.is_integer():
                bucket = bucket.cast("long")
            return f"{gcol}_bucket", "scalar", bucket, [gcol]
        if kind == "date_histogram":
            gcol, interval = b["field"], b["calendar_interval"]
            if interval not in self._DATE_INTERVALS:
                raise ValueError(
                    f"date_histogram interval {interval!r}; expected one "
                    f"of {self._DATE_INTERVALS}"
                )
            bucket = F.date_trunc(interval, F.col(gcol))
            if interval in ("year", "quarter", "month", "week", "day"):
                bucket = bucket.cast("date")
            return f"{gcol}_bucket", "scalar", bucket, [gcol]
        if kind == "range":
            gcol = b["field"]
            elems = []
            for r in b["ranges"]:
                bad = set(r) - {"key", "from", "to"}
                if bad or not ({"from", "to"} & set(r)):
                    raise ValueError(f"range bucket needs from/to, got {r!r}")
                cond = None
                if "from" in r:  # ES: from inclusive
                    cond = F.col(gcol) >= F.lit(r["from"])
                if "to" in r:    # ES: to exclusive
                    p = F.col(gcol) < F.lit(r["to"])
                    cond = p if cond is None else (cond & p)
                key = r.get(
                    "key", f"{r.get('from', '*')}-{r.get('to', '*')}"
                )
                elems.append(F.when(cond, F.lit(str(key))))
            arr = F.filter(F.array(*elems), lambda x: x.isNotNull())
            return f"{gcol}_range", "multi", arr, [gcol]
        if kind == "filters":
            elems, cols = [], set()
            for name, cl in b["filters"].items():
                pred = F.expr(self._structured_pred_sql(cl))
                cols.add(self._clause_col(cl))
                elems.append(F.when(pred, F.lit(str(name))))
            arr = F.filter(F.array(*elems), lambda x: x.isNotNull())
            return "filter_bucket", "multi", arr, sorted(cols)
        if kind == "date_range":
            # ES date_range: the range semantics (from inclusive, to
            # exclusive, a doc in every matching range) over a date/
            # timestamp doc value with date-literal bounds
            gcol = b["field"]
            elems = []
            for r in b["ranges"]:
                bad = set(r) - {"key", "from", "to"}
                if bad or not ({"from", "to"} & set(r)):
                    raise ValueError(
                        f"date_range bucket needs from/to, got {r!r}"
                    )
                cond = None
                if "from" in r:
                    cond = (F.col(gcol)
                            >= F.to_timestamp(F.lit(str(r["from"]))))
                if "to" in r:
                    p = F.col(gcol) < F.to_timestamp(F.lit(str(r["to"])))
                    cond = p if cond is None else (cond & p)
                key = r.get(
                    "key", f"{r.get('from', '*')}-{r.get('to', '*')}"
                )
                elems.append(F.when(cond, F.lit(str(key))))
            arr = F.filter(F.array(*elems), lambda x: x.isNotNull())
            return f"{gcol}_range", "multi", arr, [gcol]
        if kind == "adjacency_matrix":
            # ES adjacency_matrix: named structured predicates; one
            # bucket per matching filter PLUS one per matching ordered
            # pair "a&b" — the intersection keys are generated in-plan
            # from the matched-names array (names sorted, the ES key
            # order), so overlap costs rows, never extra scans
            elems, cols = [], set()
            for name in sorted(b["filters"]):
                cl = b["filters"][name]
                if "&" in str(name):
                    raise ValueError(
                        "adjacency_matrix filter names cannot contain '&'"
                    )
                pred = F.expr(self._structured_pred_sql(cl))
                cols.add(self._clause_col(cl))
                elems.append(F.when(pred, F.lit(str(name))))
            m = F.filter(F.array(*elems), lambda x: x.isNotNull())
            pairs = F.flatten(F.transform(
                m,
                lambda x, i: F.transform(
                    F.slice(m, i + F.lit(2), F.size(m)),
                    lambda y: F.concat(x, F.lit("&"), y),
                ),
            ))
            return ("adjacency_bucket", "multi", F.concat(m, pairs),
                    sorted(cols))
        raise ValueError(f"unsupported bucket kind {kind!r}")

    def _metric_aggs(self, metrics: dict) -> list:
        """{alias: (fn, col) | ("stats"/"extended_stats", col) |
        ("percentile", col, p) | ("percentile_rank", col, v)}
        → aliased agg Columns. ``stats`` expands to the five ES stats
        columns (<alias>_count/min/max/avg/sum); ``extended_stats``
        adds <alias>_sum_of_squares/variance/std_deviation (POPULATION
        variance, the ES default); ``percentile`` is the EXACT
        interpolated percentile (SQL-twinnable; ES's t-digest
        approximation is a documented deviation); ``percentile_rank``
        is the percent of values ≤ v (same exact-vs-t-digest note);
        ``("weighted_avg", value_col, weight_col)`` is ES weighted_avg
        (Σ value·weight / Σ weight, rows missing either side
        skipped)."""
        out = []
        for alias, m in metrics.items():
            fn, c = m[0], m[1]
            if fn in ("stats", "extended_stats"):
                out += [
                    F.count(c).alias(f"{alias}_count"),
                    F.min(c).alias(f"{alias}_min"),
                    F.max(c).alias(f"{alias}_max"),
                    F.avg(c).alias(f"{alias}_avg"),
                    F.sum(c).alias(f"{alias}_sum"),
                ]
                if fn == "extended_stats":
                    out += [
                        F.sum(F.col(c) * F.col(c))
                        .alias(f"{alias}_sum_of_squares"),
                        F.var_pop(c).alias(f"{alias}_variance"),
                        F.stddev_pop(c).alias(f"{alias}_std_deviation"),
                    ]
            elif fn == "percentile":
                out.append(
                    F.percentile(F.col(c), F.lit(float(m[2]) / 100.0))
                    .alias(alias)
                )
            elif fn == "percentile_rank":
                out.append(
                    (F.avg((F.col(c) <= F.lit(m[2])).cast("double"))
                     * F.lit(100.0)).alias(alias)
                )
            elif fn == "weighted_avg":
                # ES weighted_avg: Σ(value·weight)/Σ(weight) over rows
                # where BOTH are present (the ES missing-skip default)
                w = m[2]
                both = F.col(c).isNotNull() & F.col(w).isNotNull()
                out.append(
                    (F.sum(F.when(both, F.col(c) * F.col(w)))
                     / F.sum(F.when(both, F.col(w)))).alias(alias)
                )
            else:
                out.append(self._AGG_FNS[fn](c).alias(alias))
        return out

    @staticmethod
    def _metric_cols(metrics: dict) -> list[str]:
        """Every doc-value column a metrics dict reads — the value
        column (m[1]) plus weighted_avg's weight column (m[2])."""
        cols: set[str] = set()
        for m in metrics.values():
            cols.add(m[1])
            if m[0] == "weighted_avg":
                cols.add(m[2])
        return sorted(cols)

    def _check_metrics(self, metrics: dict) -> None:
        for alias, m in metrics.items():
            fn = m[0]
            if fn in ("stats", "extended_stats", "percentile",
                      "percentile_rank", "weighted_avg"):
                continue
            if fn not in self._AGG_FNS:
                raise ValueError(
                    f"metric {alias!r}: unsupported fn {fn!r}; expected "
                    f"stats/extended_stats/percentile/percentile_rank/"
                    f"weighted_avg or one of {sorted(self._AGG_FNS)}"
                )

    def _bucket_agg(
        self,
        hits: DataFrame,
        group_by,
        metrics: dict,
        docs: DataFrame | None,
        size: int | None,
    ) -> DataFrame:
        """Shared bucket-agg tail of :meth:`search_aggs` /
        :meth:`bool_aggs`: join the (query_id, doc_id) match set to
        the doc-values projection, bucket, aggregate, optional in-plan
        top-``size`` window.

        ``group_by`` is one bucket spec or a LIST of two — the ES
        nested-bucket shape (e.g. date_histogram → terms) FLATTENED to
        composite group keys: one row per (query, bucket, sub-bucket)
        with doc_count and metrics over that cell, which carries the
        same information as ES's hierarchical response. Bucket kinds:
        ``terms`` / ``histogram`` / ``(date_)histogram`` plus ES
        ``range`` (from-inclusive/to-exclusive, a doc in every
        matching range) and ``filters`` (named structured predicates)
        — the multi-bucket kinds explode an in-plan matched-keys
        array, so overlap costs rows, never a second scan. ``size``
        ranks COMPOSITE buckets per query (doc_count desc, keys asc).

        Still two shuffles total: the (query, doc) match-set dedup and
        the composite bucket agg — nesting adds key width, not
        stages."""
        specs = group_by if isinstance(group_by, list) else [group_by]
        if not 1 <= len(specs) <= 2:
            raise ValueError("group_by supports one bucket or one nesting level")
        specs = [self._norm_bucket(s) for s in specs]
        # rare_terms: a terms bucket kept only when doc_count ≤
        # max_doc_count (the ES anti-top-N) — the filter applies AFTER
        # the agg, so it rewrites to terms here and filters below
        rare: list[tuple[str, int]] = []
        auto_dh: list[tuple[int, str, int]] = []  # (idx, field, target)
        for i, sp in enumerate(specs):
            (kind, b), = sp.items()
            if kind == "rare_terms":
                bad = set(b) - {"field", "max_doc_count"}
                if bad:
                    raise ValueError(
                        f"rare_terms takes field/max_doc_count, got "
                        f"{sorted(bad)}"
                    )
                rare.append((b["field"], int(b.get("max_doc_count", 1))))
                specs[i] = {"terms": {"field": b["field"]}}
            elif kind == "auto_date_histogram":
                bad = set(b) - {"field", "buckets"}
                if bad:
                    raise ValueError(
                        f"auto_date_histogram takes field/buckets, got "
                        f"{sorted(bad)}"
                    )
                auto_dh.append((i, b["field"], int(b.get("buckets", 10))))
        if auto_dh:
            # ES adaptive interval: ONE bounded min/max agg per query
            # over the match set (rows = queries), then the coarsest
            # calendar interval whose bucket count fits the target —
            # chosen PER QUERY, applied as one CASE expression so the
            # bucket agg stays a single pass
            if len(auto_dh) > 1 or len(specs) > 1:
                raise ValueError(
                    "auto_date_histogram is a single top-level bucket"
                )
            i, fld_c, target = auto_dh[0]
            mcols = list(dict.fromkeys(
                [fld_c] + self._metric_cols(metrics)
            ))
            src0 = (docs.select("doc_id", *mcols) if docs is not None
                    else self._doc_values(mcols))
            spans = (
                hits.join(src0.select("doc_id", fld_c), "doc_id")
                .groupBy("query_id")
                .agg(F.min(fld_c).alias("lo"), F.max(fld_c).alias("hi"))
                .collect()
            )
            approx_s = {"year": 31557600, "quarter": 7889400,
                        "month": 2629800, "week": 604800, "day": 86400,
                        "hour": 3600, "minute": 60, "second": 1}
            chosen: dict[int, str] = {}
            for r in spans:
                span = (r["hi"] - r["lo"]).total_seconds() if r["hi"] else 0
                iv = "year"
                for cand in reversed(self._DATE_INTERVALS):  # fine→coarse
                    if span / approx_s[cand] + 1 <= target:
                        iv = cand
                        break
                chosen[int(r["query_id"])] = iv
            bucket = None
            for qid, iv in chosen.items():
                e = F.date_trunc(iv, F.col(fld_c))
                q = F.col("query_id") == qid
                bucket = F.when(q, e) if bucket is None else bucket.when(q, e)
            ivmap = None
            for qid, iv in chosen.items():
                q = F.col("query_id") == qid
                ivmap = (F.when(q, F.lit(iv)) if ivmap is None
                         else ivmap.when(q, F.lit(iv)))
            if bucket is None:
                bucket = F.lit(None).cast("timestamp")
                ivmap = F.lit(None).cast("string")
            out = hits.join(src0, "doc_id").withColumn(
                f"{fld_c}_bucket", bucket
            ).withColumn("interval", ivmap)
            aggs = ([F.count("*").alias("doc_count")]
                    + self._metric_aggs(metrics))
            return out.groupBy(
                "query_id", f"{fld_c}_bucket", "interval"
            ).agg(*aggs)
        norm = [self._bucket_col(s) for s in specs]
        names = [n for n, _m, _e, _c in norm]
        if len(set(names)) != len(names):
            raise ValueError(f"bucket names collide: {names}")
        cols = list(dict.fromkeys(
            [c for _n, _m, _e, cc in norm for c in cc]
            + self._metric_cols(metrics)
        ))
        src = docs.select("doc_id", *cols) if docs is not None else (
            self._doc_values(cols)
        )
        out = hits.join(src, "doc_id")
        for name, mode, expr, _cc in norm:
            out = out.withColumn(
                name, F.explode(expr) if mode == "multi" else expr
            )
        aggs = [F.count("*").alias("doc_count")] + self._metric_aggs(metrics)
        out = out.groupBy("query_id", *names).agg(*aggs)
        if rare:
            if len(specs) > 1:
                raise ValueError(
                    "rare_terms is a single top-level bucket"
                )
            # ES rare_terms: the anti-top-N — keep buckets at or
            # below max_doc_count (an in-plan filter on the agg)
            out = out.filter(F.col("doc_count") <= rare[0][1])
        if size is not None:
            from pyspark.sql import Window as W

            w = W.partitionBy("query_id").orderBy(
                F.desc("doc_count"), *[F.asc(n) for n in names]
            )
            out = (
                out.withColumn("_brank", F.row_number().over(w))
                .filter(F.col("_brank") <= size)
                .drop("_brank")
            )
        return out

    @staticmethod
    def _after_composite_key(
        specs: list[tuple[str, bool]], after: tuple | list
    ) -> Column:
        """ES composite ``after`` cursor: keep buckets whose key tuple
        is STRICTLY past the cursor in the per-source sort order.
        Unlike :meth:`_after_sort_key` there is no doc_id tiebreak —
        composite keys are unique per query after grouping, so the
        full key tuple IS the cursor."""
        if len(after) != len(specs):
            raise ValueError(
                f"composite after cursor needs one value per source "
                f"({len(specs)}), got {len(after)}"
            )
        pred = F.lit(False)
        for (c, asc), v in zip(reversed(specs), reversed(list(after))):
            col, lit = F.col(c), F.lit(v)
            strict = col > lit if asc else col < lit
            pred = strict | (col.eqNullSafe(lit) & pred)
        return pred

    def composite_aggs(
        self,
        queries: list[tuple[int, dict]],
        sources: list[dict],
        size: int = 10,
        after: dict[int, tuple] | None = None,
        metrics: dict | None = None,
        field: str | None = None,
        docs: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``composite`` aggregation — the PAGINATED bucket agg (the
        ES-sanctioned way to stream ALL buckets of a high-cardinality
        agg, where ``terms.size`` truncates): buckets are ordered by
        their KEY tuple (not doc_count), pages are ``size`` buckets,
        and the ``after`` cursor (the last page's final key tuple)
        filters BEFORE the page window — so page 400 costs the same
        shuffle as page 1 plus a predicate, never a 400·size window.

        ``sources``: the ES list of single-entry dicts ``{name:
        {kind: {..., "order": "asc"|"desc"}}}`` with kind in terms /
        histogram / date_histogram (the ES composite source kinds;
        range/filters are not composite sources in ES either). The
        output column is named by the SOURCE name. ``after`` maps
        query_id → key tuple in source order. ``queries`` take any
        :meth:`bool_topk` spec; ``metrics`` as in :meth:`search_aggs`.

        Scale shape: identical to :meth:`bool_aggs` — the one-scan
        match set, one (query, doc) dedup shuffle, one column-pruned
        doc-values join, one composite-key bucket agg — plus a
        row_number window per query capped at ``size`` IN-PLAN.
        Returns (query_id, <source names…>, doc_count [, metrics])."""
        from pyspark.sql import Window as W

        metrics = metrics or {}
        self._check_metrics(metrics)
        names, orders, exprs, cols = [], [], [], []
        for s in sources:
            if not (isinstance(s, dict) and len(s) == 1):
                raise ValueError(
                    f"each composite source is one {{name: spec}}, got {s!r}"
                )
            (name, spec), = s.items()
            if not (isinstance(spec, dict) and len(spec) == 1):
                raise ValueError(
                    f"source {name!r}: one bucket kind per source"
                )
            (kind, b), = spec.items()
            if kind not in ("terms", "histogram", "date_histogram"):
                raise ValueError(
                    f"source {name!r}: composite sources are terms/"
                    f"histogram/date_histogram, got {kind!r}"
                )
            b = dict(b)
            order = str(b.pop("order", "asc"))
            if order not in ("asc", "desc"):
                raise ValueError(f"source {name!r}: order {order!r}")
            _bname, mode, expr, cc = self._bucket_col({kind: b})
            assert mode == "scalar"
            names.append(name)
            orders.append(order == "asc")
            exprs.append(expr)
            cols += cc
        if len(set(names)) != len(names):
            raise ValueError(f"composite source names collide: {names}")
        hits = self._bool_tree_match_set(queries, field=field, docs=docs)
        if hits is None:
            hits = local_rows_df(self.spark, 
                [], schema="query_id long, doc_id long, score double"
            )
        cols = list(dict.fromkeys(
            cols + self._metric_cols(metrics)
        ))
        src = docs.select("doc_id", *cols) if docs is not None else (
            self._doc_values(cols)
        )
        out = hits.select("query_id", "doc_id").join(src, "doc_id")
        for name, expr in zip(names, exprs):
            out = out.withColumn(name, expr)
        aggs = [F.count("*").alias("doc_count")] + self._metric_aggs(metrics)
        out = out.groupBy("query_id", *names).agg(*aggs)
        specs = list(zip(names, orders))
        if after:
            pred = ~F.col("query_id").isin([int(q) for q in after])
            for qid, tup in after.items():
                pred = pred | (
                    (F.col("query_id") == int(qid))
                    & self._after_composite_key(specs, tup)
                )
            out = out.filter(pred)
        w = W.partitionBy("query_id").orderBy(
            *[F.asc(c) if asc else F.desc(c) for c, asc in specs]
        )
        return (
            out.withColumn("_crank", F.row_number().over(w))
            .filter(F.col("_crank") <= int(size))
            .drop("_crank")
        )

    def significant_terms(
        self,
        queries: list[tuple[int, dict]],
        size: int = 10,
        min_doc_count: int = 3,
        field: str | None = None,
    ) -> DataFrame:
        """ES ``significant_terms``: for each query's FULL match set
        (the foreground), the terms statistically overrepresented
        against the whole index (the background) — the "what is this
        result set about" aggregation, scored with ES's default JLH:
        ``(fg% − bg%) · (fg% / bg%)`` where fg% = fg/|match set| and
        bg% = df/|index|. Background counts come from the terms
        dictionaries RAW (per-dir df summed, deleted-but-unmerged
        versions included) — exactly ES, whose background doc_freq
        also ignores unmerged deletes; the foreground pass IS
        dead-masked, like every scoring read. ``min_doc_count``
        (ES default 3) drops rare-in-foreground terms before
        scoring; the page is the top ``size`` per query by
        (score desc, term asc).

        Scale shape — the honest cost of the aggregation: ONE full
        postings scan (EVERY term's membership, the same bytes ES
        touches; docs streams only — tf/dl bytes never decoded)
        joined to the broadcast-sized match-id set, one (query, term)
        count agg, one dictionary scan for the background, one rank
        window. Nothing is collected; foreground work is proportional
        to corpus size × match selectivity. Run it on purpose, not
        per keystroke — ES says the same in its docs.

        Returns (query_id, term, fg, bg, score)."""
        from pyspark.sql import Window as W

        hits = self._bool_tree_match_set(queries, field=field)
        if hits is None:
            return local_rows_df(self.spark, 
                [], schema="query_id long, term string, fg long, "
                           "bg long, score double",
            )
        # the match-set size rides a count window on the SAME subtree
        # (a separate groupBy-count would re-run the match-set decode)
        ids = hits.select("query_id", "doc_id").withColumn(
            "fg_total", F.count("*").over(W.partitionBy("query_id"))
        )
        fld = self._resolve_field(field)
        scans, dicts = [], []
        for o, p in self.dirs:
            sc = self._parquet(f"{p}/postings")
            dc = self._parquet(f"{p}/terms").select(
                "term", "df"
            )
            if fld is not None:
                # fielded term keys: only this field's postings rows
                # (a pushed startswith filter), bare token emitted
                sc = sc.filter(F.col("term").startswith(f"{fld}:"))
                dc = dc.filter(F.col("term").startswith(f"{fld}:"))
            scans.append(
                sc.select("term", "n_docs", "docs_bin")
                .withColumn("ord", F.lit(o))
            )
            dicts.append(dc)
        allp = scans[0]
        for sc in scans[1:]:
            allp = allp.unionByName(sc)
        pairs = allp.mapInPandas(
            _term_docs_segments(self._dead_by_ord),
            schema="term string, doc_id long",
        )
        fg = (
            pairs.join(ids, "doc_id")
            .groupBy("query_id", "term")
            .agg(
                F.count("*").alias("fg"),
                F.first("fg_total").alias("fg_total"),
            )
            .filter(F.col("fg") >= int(min_doc_count))
        )
        alld = dicts[0]
        for dc in dicts[1:]:
            alld = alld.unionByName(dc)
        bg = alld.groupBy("term").agg(F.sum("df").alias("bg"))
        bg_total = float(sum(
            int(self._dir_stats[o]["n_docs"]) for o, _ in self.dirs
        ))
        out = fg.join(bg, "term")
        if fld is not None:
            out = out.withColumn(
                "term", F.expr(f"substring(term, {len(fld) + 2})")
            )
        fg_pct = F.col("fg") / F.col("fg_total")
        bg_pct = F.col("bg") / F.lit(bg_total)
        out = out.withColumn(
            "score", ((fg_pct - bg_pct) * (fg_pct / bg_pct)).cast("double")
        )
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("term"))
        return (
            out.withColumn("_srank", F.row_number().over(w))
            .filter(F.col("_srank") <= int(size))
            .select(
                "query_id", "term",
                F.col("fg").cast("long").alias("fg"),
                F.col("bg").cast("long").alias("bg"),
                "score",
            )
        )

    def _rank_anchored_after(
        self,
        scored: DataFrame,
        w,
        search_after: dict[int, tuple[float, int]],
    ) -> DataFrame:
        """Shared ES search_after machinery for every engine-ordered
        scoring path (:meth:`bool_topk`'s hash-aggregate path,
        :meth:`multi_match`): the cursor is RANK-ANCHORED on doc_id —
        the cursor doc's position in THIS job's own (score desc,
        doc_id asc) ranking defines "after", so the fed-back float
        score never has to be bit-equal to a re-summed one (F.sum
        accumulation order is engine-chosen; a last-ulp drift across
        jobs would otherwise skip or duplicate the boundary doc). The
        fed score is only a fallback ordering key when the cursor doc
        has vanished from the match set (deleted/updated between
        pages). Returns ``scored`` filtered to strictly-after rows,
        original columns preserved."""
        from pyspark.sql import Window as W

        cur = local_rows_df(self.spark, 
            [(int(q), float(s), int(d)) for q, (s, d) in search_after.items()],
            schema="query_id long, c_score double, c_doc long",
        )
        anchored = (
            scored.join(F.broadcast(cur), "query_id", "left")
            .withColumn("g_rank", F.row_number().over(w))
            .withColumn(
                "c_rank",
                F.max(
                    F.when(F.col("doc_id") == F.col("c_doc"), F.col("g_rank"))
                ).over(W.partitionBy("query_id")),
            )
        )
        return anchored.filter(
            F.when(
                F.col("c_rank").isNotNull(), F.col("g_rank") > F.col("c_rank")
            ).otherwise(
                # cursor doc gone (deleted/updated between pages):
                # fall back to the fed (score, doc_id) ordering key
                F.col("c_score").isNull()
                | (F.col("score") < F.col("c_score"))
                | (
                    (F.col("score") == F.col("c_score"))
                    & (F.col("doc_id") > F.col("c_doc"))
                )
            )
        ).drop("c_score", "c_doc", "g_rank", "c_rank")

    def topk_distributed(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        min_match: int | str | None = None,
        field: str | None = None,
        fields: list[str] | None = None,
        from_: int = 0,
        search_after: dict[int, tuple[float, int]] | None = None,
    ) -> DataFrame:
        """Batch top-k with ES ``minimum_should_match``, answered by
        :meth:`topk_wand` (coordinator or Spark side by posting
        volume).

        ``min_match``: a doc must contain at least this many of the
        query's distinct tokens; ``"all"`` is the ES ``operator: and``
        semantics (a query token absent from the whole corpus then
        matches nothing, as in ES). ``from_``: ES pagination (rows
        from_+1 .. from_+k, global ranks).

        ``search_after``: ES cursor pagination — per query_id the
        (score, doc_id) of the LAST hit already seen. Scores are the
        pinned term-lexicographic sum, bit-stable across calls, so the
        cursor is an EXACT sort key: only hits strictly after it in
        (score desc, doc_id asc) order are served, ranks restart at 1,
        and a cursor doc deleted between pages still pages correctly."""
        return self.topk_wand(
            queries, k=k, field=field, fields=fields, from_=from_,
            search_after=search_after, min_match=min_match,
        )


# ---------------------------------------------------------------------------
# Pure-DataFrame BM25 (no codec) — the ANSI-SQL-expressible twin used
# for the DuckDB oracle contract and as a cross-check of the codec path.
# ---------------------------------------------------------------------------


def _min_match_count(min_match, n_terms: int) -> int:
    """ES minimum_should_match value → required count for a query
    with ``n_terms`` distinct tokens: an int, ``"all"`` (ES
    operator:and), or an ES percentage string ``"75%"`` (floor, the
    ES positive-percent rule)."""
    if min_match == "all":
        return n_terms
    if isinstance(min_match, str) and min_match.endswith("%"):
        return (int(min_match[:-1]) * n_terms) // 100
    return int(min_match)


PIPELINE_PARENT_KINDS = ("bucket_script", "cumulative_sum", "derivative",
                         "bucket_sort")
PIPELINE_SIBLING_KINDS = ("avg_bucket", "sum_bucket", "min_bucket",
                          "max_bucket")
_SIBLING_FNS = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                "min_bucket": F.min, "max_bucket": F.max}


def pipeline_aggs(
    buckets: DataFrame,
    specs: dict,
    order_col: str | None = None,
    bucket_cols: list[str] | None = None,
    query_col: str = "query_id",
) -> DataFrame:
    """ES pipeline aggregations over a bucket-agg frame (the output of
    ``search_aggs``/``bool_aggs``/``_bucket_agg``): pure post-agg
    window and arithmetic expressions — NO new shuffle beyond the
    per-query window sort, which runs over the already-tiny bucket
    frame (≤ queries×buckets rows), never the corpus.

    ``specs``: ``{alias: {kind: spec}}`` in the ES shape with
    ``buckets_path`` already resolved to column names (``_count`` →
    ``doc_count``). Kinds and their ES semantics:

    - ``bucket_script``: per-bucket arithmetic over sibling metrics —
      ``buckets_path`` maps script params to columns, ``script`` is a
      painless ARITHMETIC-LITERAL subset (``params.x``, numbers,
      ``+ - * / ( )``; anything else raises — nothing silently
      ignored).
    - ``cumulative_sum`` / ``derivative``: running sum / first
      difference of a metric in bucket-key order — require a sortable
      parent (histogram/date_histogram), i.e. ``order_col``.
      Derivative of the first bucket is null (ES). Buckets are the
      PRESENT (non-empty) ones — the engine's min_doc_count=1 view;
      ES's gap_policy applies to empty buckets this engine never
      emits (documented deviation).
    - ``avg/sum/min/max_bucket`` (sibling pipelines): one value per
      query over the FULL bucket set, emitted as a constant column on
      every bucket row (one frame out — the response-shape adaptation
      of ES's beside-the-buckets scalar).
    - ``bucket_sort``: sort + from/size truncation of the parent's
      buckets, applied LAST (after every other pipeline, so sorts may
      reference computed columns); ties pinned on the bucket key
      columns ascending.

    Application order is canonical (bucket_script → cumulative_sum →
    derivative → sibling → bucket_sort), independent of dict order."""
    import re

    from pyspark.sql import Window as W

    out = buckets
    by_kind: dict[str, list] = {}
    for alias, sp in specs.items():
        if not (isinstance(sp, dict) and len(sp) == 1):
            raise ValueError(f"pipeline agg {alias!r}: one kind per alias")
        (kind, body), = sp.items()
        if kind not in PIPELINE_PARENT_KINDS + PIPELINE_SIBLING_KINDS:
            raise ValueError(f"unknown pipeline agg kind {kind!r}")
        by_kind.setdefault(kind, []).append((alias, dict(body or {})))

    def path_col(p, ctx):
        c = "doc_count" if p == "_count" else str(p)
        if c not in out.columns:
            raise ValueError(
                f"{ctx}: buckets_path {p!r} is not a metric column of "
                f"the bucket frame {sorted(out.columns)}"
            )
        return c

    for alias, body in by_kind.get("bucket_script", []):
        bad = set(body) - {"buckets_path", "script"}
        paths = body.get("buckets_path")
        if bad or not isinstance(paths, dict) or "script" not in body:
            raise ValueError(
                f"bucket_script {alias!r} takes buckets_path (dict) + "
                f"script, got {sorted(bad) or sorted(body)}"
            )
        script = str(body["script"])
        refs = set(re.findall(r"params\.(\w+)", script))
        if not refs or not refs <= set(paths):
            raise ValueError(
                f"bucket_script {alias!r}: script references {sorted(refs)} "
                f"but buckets_path defines {sorted(paths)}"
            )
        leftover = re.sub(r"params\.\w+", "", script)
        if not re.fullmatch(r"[\s0-9.+\-*/()]*", leftover):
            raise ValueError(
                f"bucket_script {alias!r}: only arithmetic over params "
                f"(+ - * / parentheses, numeric literals) is supported"
            )
        cols = {p: path_col(c, f"bucket_script {alias!r}")
                for p, c in paths.items()}
        expr = re.sub(r"params\.(\w+)",
                      lambda m: f"(cast(`{cols[m.group(1)]}` as double))",
                      script)
        out = out.withColumn(alias, F.expr(expr).cast("double"))

    need_order = by_kind.get("cumulative_sum", []) + by_kind.get(
        "derivative", [])
    if need_order and order_col is None:
        raise ValueError(
            "cumulative_sum/derivative need a histogram or "
            "date_histogram parent (an ordered bucket key)"
        )
    if need_order:
        w = W.partitionBy(query_col).orderBy(F.asc(order_col))
    for alias, body in by_kind.get("cumulative_sum", []):
        c = path_col(body.get("buckets_path"), f"cumulative_sum {alias!r}")
        out = out.withColumn(
            alias,
            F.sum(c).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    for alias, body in by_kind.get("derivative", []):
        c = path_col(body.get("buckets_path"), f"derivative {alias!r}")
        out = out.withColumn(alias, F.col(c) - F.lag(c).over(w))
    for kind in PIPELINE_SIBLING_KINDS:
        for alias, body in by_kind.get(kind, []):
            c = path_col(body.get("buckets_path"), f"{kind} {alias!r}")
            out = out.withColumn(
                alias,
                _SIBLING_FNS[kind](c).over(W.partitionBy(query_col)),
            )
    for alias, body in by_kind.get("bucket_sort", []):
        bad = set(body) - {"sort", "size", "from"}
        if bad or not body.get("sort"):
            raise ValueError(
                f"bucket_sort {alias!r} takes sort (+size, from), got "
                f"{sorted(bad) or 'no sort'}"
            )
        order = []
        for ent in body["sort"]:
            if isinstance(ent, str):
                ent = {ent: {"order": "asc"}}
            (c, o), = ent.items()
            o = (o or {}).get("order", "asc") if isinstance(o, dict) else o
            if o not in ("asc", "desc"):
                raise ValueError(f"bucket_sort order must be asc/desc")
            c = path_col(c, f"bucket_sort {alias!r}")
            order.append(F.asc(c) if o == "asc" else F.desc(c))
        for c in (bucket_cols or []):
            order.append(F.asc(c))
        frm = int(body.get("from", 0))
        sz = body.get("size")
        top = frm + int(sz) if sz is not None else None
        wn = F.row_number().over(
            W.partitionBy(query_col).orderBy(*order)
        )
        out = out.withColumn("_bsort", wn).filter(
            (F.col("_bsort") > frm)
            & ((F.col("_bsort") <= top) if top is not None else F.lit(True))
        ).drop("_bsort")
    return out


def bm25_topk_dataframe(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    cfg: BM25Config | None = None,
    score_decimals: int | None = 6,
    min_match: int | str | None = None,
    phrase: bool = False,
    fuzziness: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """BM25 top-k composed purely of built-in DataFrame ops over
    (doc_id, text): tokenize → tf → df → score → window top-k. Every
    step is whole-stage-codegen'd JVM; Catalyst handles partial aggs
    and the broadcast of the tiny query-term table.

    ``min_match``: ES minimum_should_match; ``"all"`` = ES
    ``operator: and`` (every distinct query token required — one
    corpus-absent token means zero hits for that query).

    ``phrase=True``: ES ``match_phrase`` — each query's hits must
    contain the query's tokens CONSECUTIVELY; scoring statistics stay
    corpus-wide (ES semantics: phrase filters, BM25 ranks).

    ``fuzziness=N``: ES ``match`` fuzziness — each query token expands
    to DICTIONARY terms within levenshtein distance N (a dictionary
    scan, never a corpus scan), capped at ``max_expansions`` per token
    keeping the closest variants — (edit distance, term) window order,
    Lucene's FuzzyQuery top-N-by-similarity rule, matching the codec
    engine's capped expansion; each variant scores with its own
    df/idf, exactly ES's per-expanded-term scoring."""
    cfg = cfg or BM25Config()
    spark = docs.sparkSession
    from xml_to_es_spark.functions.analysis import doc_len_col, tokens_col

    toks = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).withColumn("dl", doc_len_col("toks"))
    # corpus stats as a broadcast 1-row side instead of a driver
    # .first(): the tokenize pass for (n, avgdl) then runs INSIDE the
    # main job (no separate job + driver round trip), and the scoring
    # arithmetic is unchanged double math (same values bit-for-bit)
    stats_df = toks.select(
        F.count("*").alias("_n"), F.avg("dl").alias("_avgdl")
    )
    n, avgdl = F.col("_n"), F.col("_avgdl")

    qrows = []
    for qid, text in queries:
        for t in sorted(set(tokenize(text))):
            qrows.append((qid, t))
    qdf = local_rows_df(spark, qrows, schema="query_id long, term string")
    if fuzziness:
        # dictionary-driven expansion in ONE vocabulary pass: distinct
        # corpus terms × query tokens (exploded literals), levenshtein
        # filtered JVM-side — a dictionary scan, tiny next to the corpus
        vocab = toks.select(F.explode("toks").alias("term")).distinct()
        qlits = F.array(
            *[
                F.struct(F.lit(qid).cast("long").alias("query_id"), F.lit(t).alias("qt"))
                for qid, t in qrows
            ]
        )
        from pyspark.sql import Window as W

        wexp = W.partitionBy("q.query_id", "q.qt").orderBy(
            F.levenshtein(F.col("term"), F.col("q.qt")), F.col("term")
        )
        qdf = (
            vocab.select("term", F.explode(qlits).alias("q"))
            .filter(F.levenshtein(F.col("term"), F.col("q.qt")) <= fuzziness)
            .withColumn("_rn", F.row_number().over(wexp))
            .filter(F.col("_rn") <= max_expansions)
            .select(F.col("q.query_id").alias("query_id"), "term")
            .distinct()
        )

    exploded = toks.select("doc_id", "dl", F.explode("toks").alias("term"))
    if fuzziness:
        pruned = exploded.join(
            F.broadcast(qdf.select("term").distinct()), "term"
        )
    else:
        # query terms are driver-known literals: prune with an isin
        # filter and fan out (query_id, term) with one literal map
        # expression — three broadcast-build jobs fewer per call
        # (guide §2.4; same inner-join semantics)
        pruned = exploded.filter(
            F.col("term").isin(sorted({t for _, t in qrows}))
        )
    tf = pruned.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    withq = tf.join(F.broadcast(dfreq), "term")
    if fuzziness:
        withq = withq.join(F.broadcast(qdf), "term")
    else:
        by_term: dict[str, list[int]] = {}
        for qid, t in qrows:
            by_term.setdefault(t, []).append(qid)
        entries = ", ".join(
            f"{_sql_str(t)}, array({', '.join(f'{q}L' for q in qs)})"
            for t, qs in by_term.items()
        )
        withq = withq.withColumn(
            "query_id", F.expr(f"explode(element_at(map({entries}), term))")
        )
    scored = (
        withq
        .join(F.broadcast(stats_df))
        .withColumn(
            "contrib",
            F.log(1.0 + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (cfg.k1 + 1.0)
               / (F.col("tf") + cfg.k1 * (1.0 - cfg.b + cfg.b * F.col("dl") / avgdl))),
        )
        .drop("_n", "_avgdl")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score_raw"),
            F.count_distinct("term").alias("n_matched"),
        )
    )
    if min_match is not None:
        need_rows = [
            (
                qid,
                _min_match_count(min_match, len(set(tokenize(text)))),
            )
            for qid, text in queries
        ]
        need_df = local_rows_df(spark, need_rows, schema="query_id long, need int")
        scored = scored.join(F.broadcast(need_df), "query_id").filter(
            F.col("n_matched") >= F.col("need")
        )
    if phrase:
        # ONE docs pass: per-query phrase flags as an array of structs,
        # exploded and filtered (not a scan per query)
        from xml_to_es_spark.functions.analysis import phrase_match_col

        flags = F.array(
            *[
                F.struct(
                    F.lit(qid).cast("long").alias("query_id"),
                    phrase_match_col("text", text).alias("m"),
                )
                for qid, text in queries
            ]
        )
        ok = (
            docs.select("doc_id", F.explode(flags).alias("f"))
            .filter(F.col("f.m"))
            .select(F.col("f.query_id").alias("query_id"), "doc_id")
        )
        scored = scored.join(ok, ["query_id", "doc_id"], "left_semi")
    from pyspark.sql import Window as W

    score = (
        F.round(F.col("score_raw"), score_decimals)
        if score_decimals is not None
        else F.col("score_raw")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_raw"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            score.alias("score"),
        )
    )


def bm25_idf(n: int, df: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))
