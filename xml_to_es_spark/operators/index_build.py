"""Distributed inverted-index build: the half the reference delegates
to ElasticSearch (ElasticIndexer.js:76 — one HTTP PUT per document;
Lucene builds the index), re-expressed as a checkpoint-resumable
Spark job per BASELINE.json north_rule.

Physical plan (designed for 10^12 docs / 1000 executors; tested on
local[32]):

  stage 1  tokens         tokenize (JVM regexp, the ONLY pass over
                          text) → explode → groupBy(doc_id, term)
                          .count() (map-side partial agg) → written
                          partitioned by group = pmod(xxhash64(term),
                          n_groups). ONE shuffle; the parquet write
                          IS the checkpoint.
  stage 2  docs+stats     doc lengths derived from the tokens table
                          (left join keeps zero-token docs); stats =
                          (N, avgdl, min/max doc, input_snapshot).
  stage 3  encode         default: ALL groups in one job — hot-term
                          detection → salt assignment →
                          repartition(term) + sortWithinPartitions
                          (term, salt, doc_id) → streaming varbyte
                          encode in mapInPandas (cross-batch carry —
                          a posting list never has to fit in one
                          Arrow batch) → postings/group=g + terms
                          dictionary + per-group _manifest rows.
                          Resume runs group-at-a-time instead (each
                          group an independently committed unit).

Skew (north_rule "salted skew handling for hot terms"): a term with
df > salt_threshold (the Zipf head — at CC scale a stopword's posting
list has ~10^11 entries) is split into n_salts doc_id-RANGE segments
(overflow-free double bucketing over [min_doc, max_doc], so hashed
int64 doc ids work). Each segment delta-encodes
independently; because salts partition the doc_id space in order, the
full posting list is the ordered concatenation of its salt segments —
merge is free at query time, and no single reducer ever materializes
the whole list.

Resume (north_rule "resumable from checkpoint with per-partition
lineage + metrics"): _manifest records (stage, group, input_snapshot,
metrics, status); a re-run with resume=True skips groups whose
manifest row is done for the same input_snapshot — the anti-join
resume of SURVEY.md §4.2.5.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.functions.analysis import doc_len_col
from xml_to_es_spark.operators.postings import encode_segment
from xml_to_es_spark.session import local_rows_df

POSTINGS_SCHEMA = (
    "group int, term string, salt int, n_docs long, first_doc long, "
    "max_tf long, seg_bytes long, "
    "block_last_doc array<long>, block_doc_off array<long>, "
    "block_tf_off array<long>, block_dl_off array<long>, "
    "docs_bin binary, tfs_bin binary, dls_bin binary, "
    "pos_bin binary, block_pos_off array<long>"
)

MANIFEST_SCHEMA = (
    "stage string, group int, term_lo string, term_hi string, n_terms long, "
    "n_postings long, bytes long, wall_ms long, input_snapshot string, status string"
)

TOMBSTONE_SCHEMA = "doc_id long, kill_ord int"

# delta commit marker: an upsert stages its tombstones INSIDE the
# delta dir, builds the delta, then drops this marker — the marker
# makes delta AND tombstones visible in one atomic step, so a crash at
# any point leaves the index readable in its exact pre-upsert state
# and a replayed upsert self-heals (see :meth:`IndexBuilder.upsert`)
COMMIT_MARKER = "_COMMITTED"

# in-flight marker (deltas/_INFLIGHT_<ord>): dropped in the deltas
# root BEFORE a delta build starts, removed after its commit marker
# lands. Distinguishes a crashed MODERN upsert (marker present →
# delta invisible even if its build completed) from a LEGACY
# pre-marker delta (no such marker was ever written → committed iff
# its build artifacts are complete) — so upgrading an old index
# neither loses committed deltas nor resurrects crashed ones.
INFLIGHT_PREFIX = "_INFLIGHT_"

# writer lock (<index_dir>/_WRITER_LOCK): ord allocation is
# read-modify-write on the directory listing, so the mutation surface
# (upsert / delete_docs / compact / delete_index) is SINGLE-WRITER.
# The lock turns a second concurrent writer into a clean error instead
# of undefined behaviour (two writers could allocate the same ord).
# Readers never take it. See :meth:`IndexBuilder._writer_lock`.
WRITER_LOCK = "_WRITER_LOCK"


def index_dirs(index_dir: str) -> list[tuple[int, str]]:
    """All COMMITTED physical index directories under one logical
    index, in version order: [(0, base), (1, deltas/delta=1), …]. An
    upsert or streaming micro-batch adds a delta; a doc's LIVE version
    is the one in the highest dir whose ord ≥ the doc's max tombstone
    kill_ord (see :meth:`IndexBuilder.upsert`).

    A delta dir is committed iff its :data:`COMMIT_MARKER` exists —
    or, for deltas written by pre-marker versions of this library
    (which have no ``_INFLIGHT_<ord>`` sibling either), iff its build
    artifacts are complete (stats + _manifest, both written at the
    end of a build). A dir with an in-flight marker and no commit
    marker is a crashed or in-progress modern upsert: invisible."""
    out = [(0, index_dir)]
    droot = Path(index_dir) / "deltas"
    if droot.exists():
        deltas = []
        for p in droot.glob("delta=*"):
            if not p.is_dir():
                continue
            o = int(p.name.split("=")[1])
            if (p / COMMIT_MARKER).exists() or (
                not (droot / f"{INFLIGHT_PREFIX}{o}").exists()
                and (p / "stats").exists()
                and (p / "_manifest").exists()
            ):
                deltas.append((o, str(p)))
        out += sorted(deltas)
    return out


def _kills_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Merged kill log as (doc_id, kill_ord) — max per doc across:

    - per-delta staged ``tombstones`` (``<delta_dir>/tombstones``,
      upsert supersessions): read from COMMITTED dirs only, so the
      delta's commit marker gates delta and tombstones atomically —
      a crashed upsert's staged tombstones are structurally invisible
      and can never orphan-kill docs whose replacement was never
      written, even when a later upsert with a different change-set
      commits at the same ord (its build overwrites the crashed dir,
      staged tombstones included);
    - the LEGACY shared ``tombstones`` log (pre-staging layout),
      filtered to kill_ords that have a committed delta dir: a legacy
      tombstone is valid exactly when the delta it belongs to
      committed. Orphan rows from a crashed legacy upsert reference
      an ord no committed dir occupies — modern upserts allocate
      PAST every ord in this log (see :meth:`IndexBuilder.upsert`),
      so such rows stay invalid forever instead of silently
      activating when an unrelated delta lands on their ord;
    - ``deletes`` (ES DELETE by id, :meth:`IndexBuilder.delete_docs`),
      NOT ord-filtered: a delete is self-committing (its parquet
      append is the whole operation). Its kill_ord is
      max-committed-ord + 1 at delete time, which kills every stored
      version; a LATER upsert that re-PUTs the id builds its delta at
      that same ord (the delete created no dir), so the new version
      satisfies ord ≥ kill_ord and the doc resurrects — exact ES
      delete-then-index semantics.

    Returns None when no log exists."""
    dirs = index_dirs(index_dir)
    committed = [int(o) for o, _ in dirs]
    parts = []
    # dirs[0] is the base dir itself, whose tombstones path IS the
    # legacy shared log handled (ord-filtered) below — skip it here
    for _o, p in dirs[1:]:
        st = Path(p) / "tombstones"
        if st.exists():
            parts.append(spark.read.parquet(str(st)))
    t = Path(index_dir) / "tombstones"
    if t.exists():
        parts.append(
            spark.read.parquet(str(t)).filter(F.col("kill_ord").isin(committed))
        )
    d = Path(index_dir) / "deletes"
    if d.exists():
        parts.append(spark.read.parquet(str(d)))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("doc_id").agg(F.max("kill_ord").alias("kill_ord"))


def load_kills(spark: SparkSession, index_dir: str) -> dict[int, int]:
    """doc_id → max kill_ord from the merged kill log (tombstones +
    deletes — see :func:`_kills_df`). A posting for doc x stored in
    dir ord o is live iff o ≥ kills.get(x, 0). Kills exist only for
    UPDATED or DELETED docs, so between compactions this set stays
    small relative to the corpus; the query engine broadcasts it
    (bounded by ``max_tombstones``)."""
    kdf = _kills_df(spark, index_dir)
    if kdf is None:
        return {}
    return {int(r["doc_id"]): int(r["kill_ord"]) for r in kdf.collect()}


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, text_md5, doc_len[, text, url], ord) of each doc's
    LIVE version across base + deltas (tombstoned versions dropped).
    Optional columns (stored source / url) ride along when every dir
    has them."""
    dirs = index_dirs(index_dir)
    scans = [spark.read.parquet(f"{p}/docs") for _, p in dirs]
    # optional columns: stored source/extra fields/url and the
    # per-field length columns of fielded indexes (needed for merged
    # per-field avgdl across deltas)
    optional = [
        c
        for c in scans[0].columns
        if c not in ("doc_id", "text_md5", "doc_len")
    ]
    cols = ["doc_id", "text_md5", "doc_len"] + [
        c for c in optional if all(c in s.columns for s in scans)
    ]
    parts = []
    for (o, _), s in zip(dirs, scans):
        parts.append(s.select(*cols).withColumn("ord", F.lit(o)))
    all_docs = parts[0]
    for part in parts[1:]:
        all_docs = all_docs.unionByName(part)
    kills = _kills_df(spark, index_dir)
    if kills is not None:
        all_docs = all_docs.join(F.broadcast(kills), "doc_id", "left").filter(
            F.col("kill_ord").isNull() | (F.col("ord") >= F.col("kill_ord"))
        ).drop("kill_ord")
    return all_docs


def _drop_tokens(out: Path) -> None:
    """Remove a build's tokenized intermediate once its last group is
    committed: queries never read it, and only an unfinished build
    needs it to resume."""
    if (out / "tokens").exists():
        shutil.rmtree(out / "tokens")


def _encode_stream(cfg_block: int, with_positions: bool = False):
    """mapInPandas kernel: partition sorted by (term, salt, doc_id) →
    one output row per (term, salt) segment. Carries the trailing
    (possibly incomplete) group across Arrow batches so posting lists
    larger than a batch encode correctly."""

    def groups_to_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        terms = pdf["term"].to_numpy()
        salts = pdf["salt"].to_numpy()
        # boundaries where (term, salt) changes
        change = np.flatnonzero((terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1]))
        starts = np.concatenate([[0], change + 1])
        ends = np.concatenate([change + 1, [len(pdf)]])
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        groups = pdf["group"].to_numpy()
        pos = pdf["positions"].to_numpy() if with_positions else None
        rows = []
        for s, e in zip(starts, ends):
            seg = encode_segment(
                doc_ids[s:e], tfs[s:e], dls[s:e], cfg_block,
                positions=list(pos[s:e]) if pos is not None else None,
            )
            seg["term"] = terms[s]
            seg["salt"] = int(salts[s])
            seg["group"] = int(groups[s])
            rows.append(seg)
        cols = [
            "group", "term", "salt", "n_docs", "first_doc", "max_tf", "seg_bytes",
            "block_last_doc", "block_doc_off", "block_tf_off", "block_dl_off",
            "docs_bin", "tfs_bin", "dls_bin", "pos_bin", "block_pos_off",
        ]
        return pd.DataFrame(rows, columns=cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            terms = pdf["term"].to_numpy()
            salts = pdf["salt"].to_numpy()
            last_t, last_s = terms[-1], salts[-1]
            tail_mask = (terms == last_t) & (salts == last_s)
            # the last group may continue into the next batch — hold it
            tail_start = (
                int(np.flatnonzero(~tail_mask)[-1] + 1) if not tail_mask.all() else 0
            )
            head, carry = pdf.iloc[:tail_start], pdf.iloc[tail_start:].copy()
            if len(head):
                yield groups_to_rows(head)
        if carry is not None and len(carry):
            yield groups_to_rows(carry)

    return run


class IndexBuilder:
    """Build the inverted index for a (doc_id, text) DataFrame."""

    def __init__(self, spark: SparkSession, cfg: IndexConfig | None = None):
        import re as _re

        self.spark = spark
        self.cfg = cfg or IndexConfig()
        if self.cfg.stemmer not in (None, "minimal_english"):
            raise ValueError(
                f"unsupported stemmer {self.cfg.stemmer!r} "
                "(minimal_english is the pinned chain)"
            )
        bad = [s for s in self.cfg.stopwords
               if not _re.fullmatch("[a-z0-9]+", s)]
        if bad:
            raise ValueError(
                f"stopwords must be analyzer tokens ([a-z0-9]+), got {bad}"
            )

    # -- inputs ------------------------------------------------------------

    def _tf_table(self, docs: DataFrame, field: str, prefix: str | None) -> DataFrame:
        """One field's (doc_id, term, tf, dl[, positions][, field])
        table. All JVM: regexp tokenize, explode, hash-agg with
        map-side partials. ``prefix`` non-None stores the term under
        the ``{field}:{token}`` key and tags rows with the field name
        (fielded indexes); positions are within-FIELD token offsets."""
        from xml_to_es_spark.functions.analysis import analyze_col

        toks = docs.select(
            "doc_id",
            analyze_col(
                F.col(field), self.cfg.stopwords, self.cfg.stemmer
            ).alias("toks"),
        ).withColumn("dl", doc_len_col("toks"))
        if self.cfg.store_positions:
            exploded = toks.select(
                "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
            )
            tf = exploded.groupBy("doc_id", "term").agg(
                F.count("*").alias("tf"),
                F.first("dl").alias("dl"),
                F.sort_array(
                    F.collect_list(F.col("pos").cast("long"))
                ).alias("positions"),
            )
        else:
            exploded = toks.select(
                "doc_id", "dl", F.explode("toks").alias("term")
            )
            tf = exploded.groupBy("doc_id", "term").agg(
                F.count("*").alias("tf"), F.first("dl").alias("dl")
            )
        if prefix is not None:
            tf = tf.withColumn(
                "term", F.concat(F.lit(f"{prefix}:"), F.col("term"))
            ).withColumn("field", F.lit(prefix))
        return tf

    def tokenized(self, docs: DataFrame) -> DataFrame:
        """(doc_id, <indexed fields>) → (doc_id, term, tf, dl
        [, positions][, field], group).

        Single-field default: bare terms, the original layout. Fielded
        (``cfg.indexed_fields`` beyond ``("text",)``): one tf table
        per field under field-prefixed term keys ({field}:{token} —
        tokens are [a-z0-9]+ so ':' can never collide), unioned. Each
        row's dl is its FIELD's length in that doc, so the posting's
        co-located dl stream scores per-field BM25 with no extra
        join; per-field df/idf follow from the prefixed key."""
        fields = self.cfg.indexed_fields
        if not self.cfg.fielded:
            tf = self._tf_table(docs, "text", None)
        else:
            missing = [f for f in fields if f not in docs.columns]
            if missing:
                raise ValueError(
                    f"docs is missing indexed field column(s) {missing}; "
                    f"cfg.indexed_fields={fields}, docs columns={docs.columns}"
                )
            parts = [self._tf_table(docs, f, prefix=f) for f in fields]
            tf = parts[0]
            for p in parts[1:]:
                tf = tf.unionByName(p)
        return tf.withColumn(
            "group", F.pmod(F.xxhash64("term"), F.lit(self.cfg.n_groups)).cast("int")
        )

    def new_docs_only(self, docs: DataFrame, index_dir: str) -> DataFrame:
        """Incremental-build filter: docs not yet in the index (anti
        join on doc_id against the docs side table — SURVEY §2.4;
        the reference gets this by PUT-by-id idempotence, ES side)."""
        existing = self.spark.read.parquet(f"{index_dir}/docs").select("doc_id")
        return docs.join(existing, "doc_id", "left_anti")

    def _md5_col(self) -> F.Column:
        """The per-doc content hash driving upsert change-detection
        and the input snapshot. Single-field: md5(text) (round-1/2
        formula, unchanged). Fielded: md5 over the CONCATENATION OF
        PER-FIELD md5s — each inner digest is exactly 32 hex chars,
        so the encoding is injective in the field tuple (a separator
        join is not: raw text can contain any separator byte, making
        ("a<sep>", "") collide with ("a", "<sep>") and silently skip
        an upsert — round-3 ADVICE). A title-only re-crawl is
        detected as a change too."""
        if not self.cfg.fielded:
            return F.md5("text")
        return F.md5(
            F.concat(
                *[
                    F.md5(F.coalesce(F.col(f), F.lit("")))
                    for f in self.cfg.indexed_fields
                ]
            )
        )

    def _len_col(self) -> F.Column:
        if not self.cfg.fielded:
            return F.length("text")
        out = None
        for f in self.cfg.indexed_fields:
            c = F.length(F.coalesce(F.col(f), F.lit("")))
            out = c if out is None else out + c
        return out

    def _stored_only(self, docs: DataFrame) -> list[str]:
        """The stored_fields (ES doc-values) columns to persist in the
        docs table, minus any already stored by other means; raises if
        the input docs lack a declared one."""
        missing = [f for f in self.cfg.stored_fields if f not in docs.columns]
        if missing:
            raise ValueError(
                f"docs is missing stored_fields column(s) {missing}; "
                f"cfg.stored_fields={self.cfg.stored_fields}, "
                f"docs columns={docs.columns}"
            )
        skip = {"doc_id", "url"} | (
            set(dict.fromkeys(("text", *self.cfg.indexed_fields)))
            if self.cfg.store_source
            else set()
        )
        return [f for f in self.cfg.stored_fields if f not in skip]

    def _snapshot(self, docs: DataFrame) -> str:
        """Deterministic input lineage key (Iceberg snapshot id
        stand-in at test scale): count + xor-ish hash aggregate. Keyed
        on the content md5 so the SAME value is computable either from
        the raw input (this method — the resume path's one full text
        read) or from the written docs_meta table
        (:meth:`_snapshot_from_meta` — the fresh-build path, which
        reads text zero extra times)."""
        row = (
            docs.select(
                F.col("doc_id"),
                self._md5_col().alias("_m"),
                self._len_col().alias("_l"),
            )
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(cast(doc_id as string), _m))").alias("h1"),
                F.sum("_l").alias("h2"),
            )
            .first()
        )
        return f"{row['n']}-{row['h1']}-{row['h2']}"

    def _write_docs_meta(self, docs: DataFrame, out: Path) -> str:
        """One projection over the input text — md5 (+ byte length,
        + stored source/url) — checkpointed to parquet. Everything
        downstream that needs per-doc metadata reads THIS narrow table
        instead of re-scanning the fat text column: the whole build
        touches text exactly TWICE (here and the tokenize pass).

        Returns the input snapshot, observed DURING the write (the
        same aggregate expressions as :meth:`_snapshot_from_meta`, so
        the value is identical) — no separate read-back job."""
        from pyspark.sql import Observation

        cols = [
            F.col("doc_id"),
            self._md5_col().alias("text_md5"),
            self._len_col().alias("text_len"),
        ]
        if self.cfg.store_source:
            cols.append(F.col("text"))
            cols += [
                F.col(f)
                for f in self.cfg.indexed_fields
                if f != "text" and f in docs.columns
            ]
        if "url" in docs.columns:
            cols.append(F.col("url"))
        cols += [F.col(f) for f in self._stored_only(docs)]
        obs = Observation()
        docs.select(*cols).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(cast(doc_id as string), text_md5))"
            ).alias("h1"),
            F.sum("text_len").alias("h2"),
        ).write.mode("overwrite").parquet(str(out / "docs_meta"))
        got = obs.get
        return f"{got['n']}-{got['h1']}-{got['h2']}"

    def _snapshot_from_meta(self, out: Path) -> str:
        row = (
            self.spark.read.parquet(str(out / "docs_meta"))
            .select(
                F.count("*").alias("n"),
                F.expr(
                    "bit_xor(xxhash64(cast(doc_id as string), text_md5))"
                ).alias("h1"),
                F.sum("text_len").alias("h2"),
            )
            .first()
        )
        return f"{row['n']}-{row['h1']}-{row['h2']}"

    # -- stored-mapping inheritance / validation ------------------------------

    _ANALYSIS_KEYS = (
        "indexed_fields", "store_positions", "store_source", "stored_fields",
        "stopwords", "stemmer",
    )

    def _stored_mapping(self, index_dir: str) -> dict:
        """The mapping/config columns stamped into an index's stats
        row (see :meth:`_stats_config_cols`); {} for legacy indexes."""
        st = self.spark.read.parquet(f"{index_dir}/stats").first().asDict()
        out = {}
        if st.get("indexed_fields"):
            out["indexed_fields"] = tuple(st["indexed_fields"].split(","))
        if st.get("stored_fields") is not None:
            out["stored_fields"] = tuple(
                f for f in st["stored_fields"].split(",") if f
            )
        for key in ("store_positions", "store_source"):
            if st.get(key) is not None:
                out[key] = bool(st[key])
        if st.get("an_stopwords") is not None:
            out["stopwords"] = tuple(
                s for s in st["an_stopwords"].split(",") if s
            )
        if st.get("an_stemmer") is not None:
            out["stemmer"] = st["an_stemmer"] or None
        for key in ("block_size", "n_groups"):
            if st.get(key) is not None:
                out[key] = int(st[key])
        if st.get("token_pattern") is not None:
            out["token_pattern"] = st["token_pattern"]
        return out

    def _resolved_cfg(self, index_dir: str) -> IndexConfig:
        """The config an upsert/compact over ``index_dir`` actually
        runs with: analysis/storage knobs (indexed_fields,
        store_positions, store_source) are INHERITED from the stored
        mapping unconditionally — ES semantics: a document PUT cannot
        change the mapping, so a delta must analyze and store exactly
        like its base (a positional base keeps its sidecar, a
        store_source base keeps its _source, a fielded base keeps its
        field set). Physical knobs (block_size, n_groups) inherit only
        when this builder still carries the class default — an
        explicit choice is honored (mixed per-dir layouts are legal;
        the engine reads each dir's own stats). A tokenizer drift
        raises (the ES putMapping "validate declared type" behaviour,
        ElasticIndexer.js:192-196)."""
        from dataclasses import fields as dc_fields
        from dataclasses import replace

        from xml_to_es_spark.config import TOKEN_PATTERN

        stored = self._stored_mapping(index_dir)
        pat = stored.pop("token_pattern", None)
        if pat is not None and pat != TOKEN_PATTERN:
            raise ValueError(
                f"analyzer drift: index {index_dir} was built with "
                f"token_pattern={pat!r} but this engine is pinned to "
                f"{TOKEN_PATTERN!r} — rebuild the index rather than mixing "
                "analyses (ES putMapping validation)"
            )
        defaults = {
            f.name: f.default for f in dc_fields(IndexConfig) if f.name in
            ("block_size", "n_groups")
        }
        kw = {}
        for key, val in stored.items():
            if key in self._ANALYSIS_KEYS:
                kw[key] = val
            elif getattr(self.cfg, key) == defaults.get(key):
                kw[key] = val
        return replace(self.cfg, **kw)

    def validate_mapping(self, index_dir: str) -> None:
        """Strict ES putMapping validation: raise when THIS builder's
        cfg disagrees with the stored mapping on any analysis/storage
        knob (callers that re-specify config and want to be told about
        drift instead of silently inheriting)."""
        from xml_to_es_spark.config import TOKEN_PATTERN

        stored = self._stored_mapping(index_dir)
        drift = {}
        pat = stored.get("token_pattern")
        if pat is not None and pat != TOKEN_PATTERN:
            drift["token_pattern"] = (pat, TOKEN_PATTERN)
        for key in self._ANALYSIS_KEYS:
            if key in stored and getattr(self.cfg, key) != stored[key]:
                drift[key] = (stored[key], getattr(self.cfg, key))
        if drift:
            raise ValueError(
                "mapping drift vs stored index config (stored, requested): "
                f"{drift} — an index's mapping is immutable; rebuild to change it"
            )

    # -- build -------------------------------------------------------------

    def build(
        self,
        docs: DataFrame,
        out_dir: str,
        resume: bool = False,
        fail_after_groups: int | None = None,
    ) -> dict:
        """Full build. ``fail_after_groups`` injects a crash after K
        committed groups (resume tests). Returns summary metrics."""
        out = Path(out_dir)
        # docs is consumed by three jobs (snapshot, docs/stats, tokens);
        # when it is the output of an extraction UDF, recomputing it per
        # job triples the most expensive stage — cache it once
        docs = docs.persist()
        try:
            return self._build_inner(docs, out, resume, fail_after_groups)
        finally:
            docs.unpersist()

    def _build_inner(
        self,
        docs: DataFrame,
        out: Path,
        resume: bool,
        fail_after_groups: int | None,
    ) -> dict:
        phases: dict[str, float] = {}
        # single-pass builds buffer manifest rows and write once (each
        # tiny parquet write costs ~1.3s of fixed committer latency);
        # per-group resume builds keep durable per-unit writes
        self._defer_manifest = not (resume or fail_after_groups is not None)
        self._pending_manifest = []
        t_snap = time.time()
        done: set[tuple[str, int]] = set()
        if self._defer_manifest:
            # fresh fast-path build: no separate docs_meta checkpoint —
            # the docs/stats stage projects the metadata straight from
            # the input and observes the snapshot during ITS write
            # (same formula, same value), so the build still touches
            # text exactly twice (tokenize + docs) but runs one fewer
            # write + read-back cycle
            if out.exists():
                shutil.rmtree(out)
            out.mkdir(parents=True, exist_ok=True)
            snapshot = None  # derived by _build_docs_and_stats
        else:
            # resume / crash-injection path: fingerprint the CURRENT
            # input directly (same md5-keyed formula → same value)
            snapshot = self._snapshot(docs)
            # a docs_meta checkpoint left by an earlier build is only
            # reusable if it fingerprints to the SAME input — a resume
            # over changed input must not inherit the old corpus's
            # md5/text/url rows (they drive upsert change-detection)
            if (
                resume
                and (out / "docs_meta").exists()
                and self._snapshot_from_meta(out) != snapshot
            ):
                self._write_docs_meta(docs, out)
            if resume and (out / "_manifest").exists():
                man = self.spark.read.parquet(str(out / "_manifest"))
                done = {
                    (r["stage"], r["group"])
                    for r in man.filter(
                        (F.col("status") == "done")
                        & (F.col("input_snapshot") == snapshot)
                    ).collect()
                }
            elif out.exists():
                shutil.rmtree(out)
            out.mkdir(parents=True, exist_ok=True)
        phases["snapshot_s"] = round(time.time() - t_snap, 2)

        t0 = time.time()
        if self._defer_manifest:
            # ---- fresh fast path ----
            # the docs/stats stage and the encode stage both depend
            # only on the written tokens table; the encode's salt
            # id-range is observed during the tokens write, so the two
            # stages run CONCURRENTLY on two driver threads — the
            # second job's tasks back-fill executors freed by the
            # first's tail (guide §2.6 overlap of independent jobs).
            # Salt ranges derive from the token-table doc span (the
            # only docs postings can contain), so segment contents are
            # unchanged for any corpus whose extreme ids have tokens.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark.sql import Observation

            t_tok = time.time()
            tok = self.tokenized(docs)
            obs = Observation()
            tok.observe(
                obs,
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            ).write.mode("overwrite").partitionBy("group").parquet(
                str(out / "tokens")
            )
            got = obs.get
            tokens_wall_ms = int((time.time() - t0) * 1000)
            phases["tokens_s"] = round(time.time() - t_tok, 2)
            t_par = time.time()
            if got["lo"] is None:
                # zero-token corpus: nothing to encode in parallel
                st = self._build_docs_and_stats(docs, out, None)
                snapshot = st["snapshot"]
                self._build_all_groups(out, (0, 0), snapshot)
            else:
                id_range = (int(got["lo"]), int(got["hi"]))
                with ThreadPoolExecutor(max_workers=2) as ex:
                    fa = ex.submit(
                        self._build_docs_and_stats, docs, out, None
                    )
                    fb = ex.submit(
                        self._build_all_groups, out, id_range, None
                    )
                    st = fa.result()
                    fb.result()
                snapshot = st["snapshot"]
            phases["docs_groups_s"] = round(time.time() - t_par, 2)
            self._manifest_row(
                out, stage="tokens", group=-1, snapshot=snapshot,
                wall_ms=tokens_wall_ms,
            )
            # postings rows were buffered before the snapshot existed
            self._pending_manifest = [
                r[:8] + (snapshot if r[8] is None else r[8],) + r[9:]
                for r in self._pending_manifest
            ]
            self._flush_manifest(out)
            _drop_tokens(out)
            return {
                "groups_built": self.cfg.n_groups,
                "snapshot": snapshot,
                "wall_s": time.time() - t0,
                "n_docs": int(st["n_docs"]),
                "phases": phases,
            }
        # ---- resume / crash-injection path (per-group durable) ----
        if ("tokens", -1) not in done:
            t_tok = time.time()
            tok = self.tokenized(docs)
            # ONE shuffle (the groupBy); written partitioned by group so
            # stage-2 reads are partition-pruned per checkpoint unit
            tok.write.mode("overwrite").partitionBy("group").parquet(
                str(out / "tokens")
            )
            self._manifest_row(
                out, stage="tokens", group=-1, snapshot=snapshot,
                wall_ms=int((time.time() - t0) * 1000),
            )
            phases["tokens_s"] = round(time.time() - t_tok, 2)
        st = None
        if ("docs", -1) not in done:
            # doc lengths come from the tokens table — text is
            # tokenized exactly ONCE per build
            t_ds = time.time()
            st = self._build_docs_and_stats(docs, out, snapshot)
            phases["docs_stats_s"] = round(time.time() - t_ds, 2)
        if st is None:  # resume path: docs stage already committed
            st = self.spark.read.parquet(str(out / "stats")).first()
        n_docs = st["n_docs"]
        id_range = (int(st["min_doc"]), int(st["max_doc"]))

        built = 0
        for g in range(self.cfg.n_groups):
            if ("postings", g) in done:
                continue
            if fail_after_groups is not None and built >= fail_after_groups:
                raise RuntimeError(f"injected failure after {built} groups")
            self._build_group(out, g, id_range, snapshot)
            built += 1
        _drop_tokens(out)
        return {
            "groups_built": built,
            "snapshot": snapshot,
            "wall_s": time.time() - t0,
            "n_docs": int(n_docs),
        }

    # -- upsert ------------------------------------------------------------

    @contextmanager
    def _writer_lock(self, index_dir: str):
        """Enforced single-writer protocol: an exclusive lock file
        (O_CREAT|O_EXCL — atomic on POSIX filesystems) held for the
        duration of any mutating operation. A second concurrent writer
        raises instead of corrupting ord allocation.

        Stale-lock recovery: the lock records (pid, host); a lock
        whose pid is dead ON THIS HOST is a crashed writer's leftover
        and is stolen automatically (the crashed mutation itself is
        already crash-safe — commit markers gate visibility). A lock
        from another host cannot be liveness-checked here; break it
        explicitly with :meth:`break_lock` after confirming the writer
        is gone."""
        import json
        import socket

        path = Path(index_dir) / WRITER_LOCK
        me = {"pid": os.getpid(), "host": socket.gethostname()}
        for _attempt in (0, 1):
            try:
                fd = os.open(str(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    json.dump(me, f)
                break
            except FileExistsError:
                try:
                    holder = json.loads(path.read_text())
                except (OSError, ValueError):
                    holder = {}
                stale = False
                if holder.get("host") == me["host"] and holder.get("pid"):
                    try:
                        os.kill(int(holder["pid"]), 0)
                    except ProcessLookupError:
                        stale = True
                    except PermissionError:
                        pass  # alive, owned by another user
                if stale and _attempt == 0:
                    path.unlink(missing_ok=True)
                    continue
                raise ValueError(
                    f"another writer holds {path} "
                    f"(holder: {holder or 'unknown'}) — the index mutation "
                    "surface is single-writer; wait for it to finish, or "
                    "IndexBuilder.break_lock() if the writer is known dead"
                ) from None
        try:
            yield
        finally:
            path.unlink(missing_ok=True)

    @staticmethod
    def break_lock(index_dir: str) -> bool:
        """Remove a writer lock left by a dead writer on ANOTHER host
        (same-host stale locks are stolen automatically). Returns True
        if a lock was removed. Only call after confirming the holder
        is gone — breaking a LIVE writer's lock reintroduces the
        duplicate-ord hazard the lock exists to prevent."""
        path = Path(index_dir) / WRITER_LOCK
        existed = path.exists()
        path.unlink(missing_ok=True)
        return existed

    def upsert(
        self, docs: DataFrame, index_dir: str, force_reindex: bool = False
    ) -> dict:
        """ES PUT-by-id semantics (reference ElasticIndexer.js:68-97:
        a re-PUT of an existing id overwrites the document) as an
        LSM-style delta: given a (doc_id, text[, url]) snapshot or
        patch,

        - docs whose text_md5 matches their live indexed version are
          SKIPPED (idempotent re-crawl),
        - changed + brand-new docs are built into a self-contained
          delta index at ``deltas/delta=<ord>``,
        - changed docs get a tombstone (doc_id, kill_ord=<ord>) that
          retires every older stored version.

        QueryEngine reads base + deltas + tombstones transparently and
        reproduces the exact ranking (bit-equal scores) of a fresh
        full rebuild over the updated corpus — asserted in
        tests/test_upsert.py. No input text is required for unchanged
        docs, so a 10^12-doc index absorbs a small re-crawl without
        touching the corpus.

        Crash safety: an in-flight marker is dropped first (the delta
        stays invisible while it exists), the delta builds, its
        tombstones are staged INSIDE the delta dir, then the commit
        marker lands — making delta and tombstones visible in one
        atomic step (readers merge staged tombstones from committed
        dirs only, :func:`_kills_df`). A crash at any point leaves
        the index readable in its exact pre-upsert state; replaying
        ANY upsert afterwards — same change-set or different — reuses
        the orphaned ord, and its build rmtree's the crashed dir
        (stale staged tombstones included) before rebuilding, so no
        tombstone can ever outlive the delta it belongs to.
        ``_fail_before_commit`` / ``_fail_after_tombstones`` inject
        crashes in those windows (tests).

        ``force_reindex=True`` disables the md5 skip: every patch row
        lands in the delta even when its text is unchanged — the path
        the ES ``_update`` / ``_update_by_query`` surfaces need, since
        a stored-field-only change leaves text_md5 intact (the new
        version's doc values supersede the old one's; rankings stay
        bit-equal because identical text re-encodes to identical
        postings in the delta).

        Concurrency: ord allocation is read-modify-write on the
        directory listing — a SINGLE-WRITER protocol, now ENFORCED by
        an exclusive lock file held for the mutation's duration (see
        :meth:`_writer_lock`): a second concurrent upsert/delete/
        compact raises cleanly instead of racing ord allocation.
        Readers never take the lock; a crashed writer's same-host
        lock is stolen automatically.
        """
        base = Path(index_dir)
        if not (base / "stats").exists():
            res = self.build(docs, index_dir)
            return {"mode": "initial_build", **res}
        # the stored mapping is authoritative (a PUT cannot change it)
        cfg = self._resolved_cfg(index_dir)
        if cfg != self.cfg:
            return IndexBuilder(self.spark, cfg).upsert(
                docs, index_dir, force_reindex=force_reindex
            )
        with self._writer_lock(index_dir):
            return self._upsert_locked(docs, index_dir, base, force_reindex)

    def _upsert_locked(
        self,
        docs: DataFrame,
        index_dir: str,
        base: Path,
        force_reindex: bool = False,
    ) -> dict:
        docs = docs.persist()
        try:
            live = live_docs(self.spark, index_dir).select("doc_id", "text_md5")
            patch = docs.select("doc_id", self._md5_col().alias("new_md5"))
            joined = patch.join(live, "doc_id", "left")
            # distinct: a patch that repeats a doc_id (replayed rows)
            # must not produce duplicate tombstones or delta rows
            changed = (
                F.lit(True)
                if force_reindex
                else F.col("text_md5").isNull()
                | (F.col("text_md5") != F.col("new_md5"))
            )
            delta_ids = joined.filter(changed).select(
                "doc_id", F.col("text_md5").isNotNull().alias("is_update")
            ).distinct().persist()
            n_new = delta_ids.filter(~F.col("is_update")).count()
            n_changed = delta_ids.filter(F.col("is_update")).count()
            if n_new + n_changed == 0:
                delta_ids.unpersist()
                return {"mode": "noop", "n_new": 0, "n_changed": 0}
            new_ord = self._next_ord(index_dir)
            delta_docs = docs.join(
                delta_ids.select("doc_id"), "doc_id", "left_semi"
            )
            droot = base / "deltas"
            droot.mkdir(parents=True, exist_ok=True)
            delta_dir = str(droot / f"delta={new_ord}")
            # 1. in-flight marker: while it exists (and no commit
            #    marker), delta=<new_ord> is invisible even if its
            #    build completes — see INFLIGHT_PREFIX
            (droot / f"{INFLIGHT_PREFIX}{new_ord}").touch()
            # 2. self-contained delta index (a replay overwrites a
            #    crashed partial build: build() rmtree's the dir,
            #    stale staged tombstones included)
            res = IndexBuilder(self.spark, self.cfg).build(delta_docs, delta_dir)
            if getattr(self, "_fail_before_commit", False):
                raise RuntimeError("injected failure before delta commit")
            # 3. tombstones STAGED INSIDE the delta dir: readers only
            #    merge them from committed dirs, so the commit marker
            #    gates delta + tombstones atomically and a crashed
            #    upsert can never orphan-kill docs whose replacement
            #    was never written (_kills_df)
            if n_changed:
                tombs = (
                    delta_ids.filter(F.col("is_update"))
                    .select(
                        F.col("doc_id").cast("long"),
                        F.lit(new_ord).cast("int").alias("kill_ord"),
                    )
                )
                tombs.coalesce(1).write.mode("overwrite").parquet(
                    str(Path(delta_dir) / "tombstones")
                )
            if getattr(self, "_fail_after_tombstones", False):
                raise RuntimeError("injected failure after tombstone staging")
            # 4. commit: the marker makes delta + tombstones visible
            (Path(delta_dir) / COMMIT_MARKER).touch()
            (droot / f"{INFLIGHT_PREFIX}{new_ord}").unlink(missing_ok=True)
            delta_ids.unpersist()
            return {
                "mode": "delta",
                "ord": new_ord,
                "n_new": int(n_new),
                "n_changed": int(n_changed),
                "delta_dir": delta_dir,
                "delta_build": res,
            }
        finally:
            docs.unpersist()

    def _next_ord(self, index_dir: str) -> int:
        """The next delta/delete ord: past every committed dir AND
        past every ord in the legacy shared tombstone log — so orphan
        rows a crashed PRE-STAGING upsert left there can never match
        a newly committed ord and activate (see :func:`_kills_df`)."""
        hi = max(o for o, _ in index_dirs(index_dir))
        shared = Path(index_dir) / "tombstones"
        if shared.exists():
            v = (
                self.spark.read.parquet(str(shared))
                .agg(F.max("kill_ord"))
                .first()[0]
            )
            hi = max(hi, int(v or 0))
        return hi + 1

    # -- deletes / index lifecycle (ES DELETE doc, DELETE index) -------------

    def delete_docs(self, doc_ids, index_dir: str) -> dict:
        """ES ``DELETE /index/_doc/{id}``: append a kill record per
        live doc to the ``deletes`` log — no segment rewrite, O(ids)
        work regardless of corpus size. ``doc_ids`` is an iterable of
        ints or a DataFrame with a ``doc_id`` column.

        The recorded kill_ord is the next unallocated ord (past every
        committed dir, past any in-flight upsert's reserved ord, and
        past the legacy tombstone log), which kills every stored
        version of the doc; the log is self-committing (see
        :func:`_kills_df` — visible immediately, no marker), and a
        later upsert that re-PUTs the id resurrects it. Single-writer
        protocol (see :meth:`upsert`): a delete must not race an
        in-flight upsert — skipping past in-flight ords makes the
        common crashed-upsert-then-delete sequence safe (the replayed
        upsert commits BELOW the delete's kill_ord, so the delete
        still wins), but two simultaneous writers are undefined. Ids
        not currently live are reported ``n_not_found`` (ES 404) and
        not logged. Deleted docs leave stats/df exactly as a rebuild
        without them would (the engine merges live-doc stats and
        corrects df via the kill set); ``compact`` physically drops
        them and resets the log."""
        base = Path(index_dir)
        if not (base / "stats").exists():
            raise ValueError(f"{index_dir} is not an index (no stats)")
        if isinstance(doc_ids, DataFrame):
            ids = doc_ids.select("doc_id").distinct()
        else:
            ids = local_rows_df(
                self.spark, [(int(d),) for d in doc_ids], "doc_id long"
            ).distinct()
        with self._writer_lock(index_dir):
            del_ord = self._next_ord(index_dir)
            droot = base / "deltas"
            if droot.exists():
                for m in droot.glob(f"{INFLIGHT_PREFIX}*"):
                    del_ord = max(
                        del_ord, int(m.name[len(INFLIGHT_PREFIX):]) + 1
                    )
            found = ids.join(
                live_docs(self.spark, index_dir).select("doc_id"),
                "doc_id",
                "left_semi",
            ).persist()
            n_found = found.count()
            n_req = ids.count()
            if n_found:
                found.select(
                    F.col("doc_id").cast("long"),
                    F.lit(del_ord).cast("int").alias("kill_ord"),
                ).coalesce(1).write.mode("append").parquet(str(base / "deletes"))
            found.unpersist()
            return {
                "mode": "delete",
                "n_deleted": int(n_found),
                "n_not_found": int(n_req - n_found),
                "kill_ord": del_ord,
            }

    def get_mapping(self, index_dir: str) -> dict:
        """ES ``GET /index/_mapping``: the stored analysis/storage
        config (indexed_fields, store_positions, store_source,
        analyzer pin, physical layout) stamped into stats at build
        time. {} for legacy indexes predating the mapping columns."""
        from xml_to_es_spark.config import TOKEN_PATTERN  # noqa: F401

        return self._stored_mapping(index_dir)

    def delete_index(self, index_dir: str) -> dict:
        """ES ``DELETE /index`` (the reference's deleteIndex,
        ElasticIndexer.js:133): remove the whole index tree. Refuses a
        path that does not look like an index root (must contain the
        stats and postings tables) — a typo'd path must not rm -rf
        arbitrary data."""
        import shutil

        base = Path(index_dir)
        if not ((base / "stats").exists() and (base / "postings").exists()):
            raise ValueError(
                f"{index_dir} is not an index root (stats/postings missing); "
                "refusing to delete"
            )
        with self._writer_lock(index_dir):
            shutil.rmtree(index_dir)
        return {"mode": "delete_index", "deleted": str(index_dir)}

    # -- compaction ----------------------------------------------------------

    def compact(self, index_dir: str, out_dir: str) -> dict:
        """LSM compaction: merge base + delta postings, dropping
        tombstoned doc versions, into a FRESH single-dir index at
        ``out_dir`` — queryable stand-alone, rankings bit-equal to the
        merged view (tests/test_upsert.py). Needs no input text: the
        (term, doc, tf, dl) rows are recovered by decoding the stored
        segments (one distributed decode pass), then re-encoded by the
        normal build stages. Run periodically so the tombstone set the
        query engine broadcasts stays small. Inherits the stored
        mapping (positional sidecar, stored source, field set) from
        the input index — see :meth:`_resolved_cfg`. Holds the SOURCE
        index's writer lock for the duration: a concurrent upsert
        mutating the input mid-snapshot would make the compacted copy
        neither old nor new."""
        cfg = self._resolved_cfg(index_dir)
        if cfg != self.cfg:
            return IndexBuilder(self.spark, cfg).compact(index_dir, out_dir)
        with self._writer_lock(index_dir):
            return self._compact_locked(index_dir, out_dir)

    def _compact_locked(self, index_dir: str, out_dir: str) -> dict:
        from xml_to_es_spark.operators.postings import decode_positions, varbyte_decode

        spark = self.spark
        dirs = index_dirs(index_dir)
        kills = load_kills(spark, index_dir)
        dead_by_ord = {
            o: np.array(sorted(x for x, k in kills.items() if k > o), dtype=np.int64)
            for o, _ in dirs
        }
        dead_by_ord = {o: d for o, d in dead_by_ord.items() if d.size}
        with_pos = self.cfg.store_positions
        pos_cols = ["pos_bin"] if with_pos else []
        parts = []
        for o, p in dirs:
            parts.append(
                spark.read.parquet(f"{p}/postings")
                .select("term", "n_docs", "docs_bin", "tfs_bin", "dls_bin", *pos_cols)
                .withColumn("ord", F.lit(o))
            )
        allp = parts[0]
        for part in parts[1:]:
            allp = allp.unionByName(part)

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_t, out_d, out_tf, out_dl, out_p = [], [], [], [], []
                for i in range(len(pdf)):
                    n = int(pdf["n_docs"].iat[i])
                    doc_ids = np.cumsum(
                        varbyte_decode(pdf["docs_bin"].iat[i], n).astype(np.int64)
                    )
                    tfs = varbyte_decode(pdf["tfs_bin"].iat[i], n).astype(np.int64)
                    dls = varbyte_decode(pdf["dls_bin"].iat[i], n).astype(np.int64)
                    plists = (
                        decode_positions(pdf["pos_bin"].iat[i], tfs) if with_pos else None
                    )
                    dead = dead_by_ord.get(int(pdf["ord"].iat[i]))
                    if dead is not None:
                        pos = np.minimum(np.searchsorted(dead, doc_ids), dead.size - 1)
                        keep = dead[pos] != doc_ids
                        doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
                        if plists is not None:
                            plists = [pl for pl, k in zip(plists, keep) if k]
                    if not doc_ids.size:
                        continue
                    out_t.append(np.full(doc_ids.size, pdf["term"].iat[i], dtype=object))
                    out_d.append(doc_ids)
                    out_tf.append(tfs)
                    out_dl.append(dls)
                    if plists is not None:
                        out_p.extend(pl.tolist() for pl in plists)
                if not out_t:
                    continue
                frame = {
                    "term": np.concatenate(out_t),
                    "doc_id": np.concatenate(out_d),
                    "tf": np.concatenate(out_tf),
                    "dl": np.concatenate(out_dl),
                }
                if with_pos:
                    frame["positions"] = out_p
                yield pd.DataFrame(frame)

        tok_schema = "term string, doc_id long, tf long, dl long" + (
            ", positions array<long>" if with_pos else ""
        )
        tok = allp.mapInPandas(decode, schema=tok_schema).withColumn(
            "group", F.pmod(F.xxhash64("term"), F.lit(self.cfg.n_groups)).cast("int")
        )
        out = Path(out_dir)
        if out.exists():
            shutil.rmtree(out)
        out.mkdir(parents=True, exist_ok=True)
        self._defer_manifest = True
        self._pending_manifest = []
        t0 = time.time()
        tok.write.mode("overwrite").partitionBy("group").parquet(str(out / "tokens"))
        # docs/stats from the live doc set (doc_len carried in docs
        # tables; zero-token docs keep their row via live_docs, not
        # the postings — a doc with no terms has no posting)
        live = live_docs(spark, index_dir).drop("ord")
        live.write.mode("overwrite").parquet(str(out / "docs"))
        dd = spark.read.parquet(str(out / "docs"))
        snap_row = dd.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(cast(doc_id as string), text_md5))").alias("h"),
        ).first()
        snapshot = f"compact-{snap_row['n']}-{snap_row['h']}"
        per_field = []
        for f in self.cfg.indexed_fields if self.cfg.fielded else []:
            per_field += [
                F.avg(f"doc_len__{f}").alias(f"avgdl__{f}"),
                F.sum(f"doc_len__{f}").alias(f"total_tokens__{f}"),
            ]
        stats = dd.agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            *per_field,
        ).withColumn("input_snapshot", F.lit(snapshot))
        stats = self._stats_config_cols(stats)
        stats.coalesce(1).write.mode("overwrite").parquet(str(out / "stats"))
        self._manifest_row(out, stage="tokens", group=-1, snapshot=snapshot)
        self._manifest_row(out, stage="docs", group=-1, snapshot=snapshot)
        st = spark.read.parquet(str(out / "stats")).first()
        self._build_all_groups(out, (int(st["min_doc"]), int(st["max_doc"])), snapshot)
        self._flush_manifest(out)
        _drop_tokens(out)
        return {
            "mode": "compact",
            "dirs_merged": len(dirs),
            "n_docs": int(st["n_docs"]),
            "tombstones_dropped": len(kills),
            "wall_s": round(time.time() - t0, 2),
            "out_dir": str(out),
        }

    def _stats_config_cols(self, df: DataFrame) -> DataFrame:
        """Stamp the index MAPPING fingerprint into stats: analyzer
        pin + physical layout + field set. The ES putMapping
        "validate declared type" behaviour (ElasticIndexer.js:192-196)
        becomes: upsert/compact derive their config from these columns
        and refuse an explicitly-conflicting one
        (:func:`config_from_stats`, :meth:`_check_mapping`)."""
        from xml_to_es_spark.config import TOKEN_PATTERN

        return (
            df.withColumn("block_size", F.lit(self.cfg.block_size))
            .withColumn("n_groups", F.lit(self.cfg.n_groups))
            .withColumn("store_positions", F.lit(self.cfg.store_positions))
            .withColumn("store_source", F.lit(self.cfg.store_source))
            .withColumn(
                "indexed_fields", F.lit(",".join(self.cfg.indexed_fields))
            )
            .withColumn(
                "stored_fields", F.lit(",".join(self.cfg.stored_fields))
            )
            .withColumn("token_pattern", F.lit(TOKEN_PATTERN))
            # analyzer chain (round 6): stopwords are [a-z0-9]+ tokens
            # so the comma join is injective; "" = no stemmer
            .withColumn(
                "an_stopwords", F.lit(",".join(self.cfg.stopwords))
            )
            .withColumn("an_stemmer", F.lit(self.cfg.stemmer or ""))
        )

    def _build_docs_and_stats(
        self, docs: DataFrame, out: Path, snapshot: str | None
    ):
        # doc_len from the already-written tokens table (no second
        # tokenize pass); left join keeps zero-token docs at length 0.
        # text_md5 (upsert change-detection, ES PUT-by-id semantics,
        # ElasticIndexer.js:68-97) comes from the docs_meta checkpoint
        # when present (resume-style builds). ``snapshot=None`` (the
        # fresh fast path) additionally observes the input-snapshot
        # aggregates during the docs write — same formula as
        # :meth:`_snapshot`, so the value is identical
        tok = self.spark.read.parquet(str(out / "tokens"))
        fields = self.cfg.indexed_fields
        if self.cfg.fielded:
            # per-field lengths (dl is constant within (doc, field))
            dl = tok.groupBy("doc_id").agg(
                *[
                    F.max(F.when(F.col("field") == f, F.col("dl"))).alias(
                        f"doc_len__{f}"
                    )
                    for f in fields
                ]
            )
            fill = {f"doc_len__{f}": 0 for f in fields}
            len_cols = [f"doc_len__{f}" for f in fields]
        else:
            dl = tok.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
            fill = {"doc_len": 0}
            len_cols = []
        snap_aggs = []
        if (out / "docs_meta").exists():
            base = self.spark.read.parquet(str(out / "docs_meta")).drop("text_len")
        else:
            base = docs.select(
                "doc_id",
                self._md5_col().alias("text_md5"),
                # fast path: the snapshot rides the same observe, so
                # _len_col is projected here where the text columns
                # are still in scope (dropped again before the write)
                *([self._len_col().alias("_text_len")]
                  if snapshot is None else []),
                *(
                    [c for c in dict.fromkeys(("text", *fields)) if c in docs.columns]
                    if self.cfg.store_source
                    else []
                ),
                *(["url"] if "url" in docs.columns else []),
                *self._stored_only(docs),
            )
        if snapshot is None:
            snap_aggs = [
                F.expr(
                    "bit_xor(xxhash64(cast(doc_id as string), text_md5))"
                ).alias("_h1"),
                F.sum("_text_len").alias("_h2"),
            ]
        d = base.join(dl, "doc_id", "left").fillna(fill)
        if self.cfg.fielded:
            # doc_len keeps the DEFAULT field's length so single-field
            # consumers (merged stats over deltas) stay uniform
            d = d.withColumn(
                "doc_len", F.col(f"doc_len__{self.cfg.default_field}")
            )
        # corpus stats observed DURING the docs write (identical
        # aggregate expressions → identical values, one job instead of
        # write + read-back + agg); the 1-row stats table is then
        # assembled driver-side
        from pyspark.sql import Observation

        per_field_names = [f for f in fields] if self.cfg.fielded else []
        obs = Observation()
        per_field_aggs = []
        for f in per_field_names:
            per_field_aggs += [
                F.avg(f"doc_len__{f}").alias(f"avgdl__{f}"),
                F.sum(f"doc_len__{f}").alias(f"total_tokens__{f}"),
            ]
        d.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            *per_field_aggs,
            *snap_aggs,
        ).drop("_text_len").write.mode("overwrite").parquet(str(out / "docs"))
        got = obs.get
        if snapshot is None:
            snapshot = f"{got['n_docs']}-{got['_h1']}-{got['_h2']}"
        got = dict(got)
        got["snapshot"] = snapshot
        schema = (
            "n_docs long, avgdl double, total_tokens long, "
            "min_doc long, max_doc long"
            + "".join(
                f", avgdl__{f} double, total_tokens__{f} long"
                for f in per_field_names
            )
            + ", input_snapshot string"
        )
        row = (
            int(got["n_docs"]),
            got["avgdl"],
            got["total_tokens"],
            got["min_doc"],
            got["max_doc"],
            *[
                v
                for f in per_field_names
                for v in (got[f"avgdl__{f}"], got[f"total_tokens__{f}"])
            ],
            snapshot,
        )
        stats = self._stats_config_cols(local_rows_df(self.spark, [row], schema))
        stats.write.mode("overwrite").parquet(str(out / "stats"))
        self._manifest_row(out, stage="docs", group=-1, snapshot=snapshot)
        return got

    def _encode_postings(
        self, tok: DataFrame, min_doc: int, max_doc: int
    ) -> DataFrame:
        """(doc_id, term, tf, dl, group) → encoded segments DataFrame.

        Hot-term detection (the salting pre-pass, SURVEY §4.2.2) +
        doc_id-RANGE salt (ordered segments concatenate for free) +
        hash repartition on term + in-partition sort + streaming
        varbyte encode."""
        cfg = self.cfg
        hot = (
            tok.groupBy("term")
            .count()
            .filter(F.col("count") > cfg.salt_threshold)
            .select("term")
        )
        # doc_id-range bucket, overflow-free for arbitrary int64 ids
        # (e.g. xxhash64(url)): monotone double math → floor, so salt
        # segments stay ordered, disjoint doc ranges
        span = float(max_doc) - float(min_doc) + 1.0
        salt_expr = F.floor(
            (F.col("doc_id").cast("double") - F.lit(float(min_doc)))
            * F.lit(float(cfg.n_salts) / span)
        ).cast("int")
        salted = tok.join(
            F.broadcast(hot.withColumn("is_hot", F.lit(True))), "term", "left"
        ).withColumn(
            "salt",
            F.when(F.col("is_hot"), salt_expr).otherwise(F.lit(0)).cast("int"),
        ).drop("is_hot")
        # explicit width when configured (e.g. cluster builds sized to
        # executor memory); session shuffle partitions otherwise
        if cfg.shuffle_partitions:
            part = salted.repartition(cfg.shuffle_partitions, F.col("term"))
        else:
            part = salted.repartition(F.col("term"))
        part = part.sortWithinPartitions("term", "salt", "doc_id")
        # in-partition sort by term → parquet min/max row-group stats
        # let the query engine's term filter prune at scan time
        return part.mapInPandas(
            _encode_stream(cfg.block_size, with_positions=cfg.store_positions),
            schema=POSTINGS_SCHEMA,
        )

    def _terms_and_manifest(
        self, out: Path, pb: DataFrame, snapshot: str, wall_ms_total: int
    ) -> None:
        # ONE narrow scan of the postings (seg_bytes is a column, so
        # the binary payloads are never re-read): terms dictionary,
        # with the per-group manifest stats OBSERVED during the same
        # write (bounded conditional aggregates — no read-back job).
        # Falls back to the read-back aggregation for very wide group
        # counts, where 5×n_groups observe expressions would bloat the
        # plan.
        from pyspark.sql import Observation

        terms = pb.groupBy("group", "term").agg(
            F.sum("n_docs").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.count("*").alias("n_segments"),
            F.sum("seg_bytes").alias("bytes"),
        )
        obs = None
        if self.cfg.n_groups <= 64:
            obs = Observation()
            aggs = []
            for g in range(self.cfg.n_groups):
                cond = F.col("group") == g
                aggs += [
                    F.min(F.when(cond, F.col("term"))).alias(f"lo_{g}"),
                    F.max(F.when(cond, F.col("term"))).alias(f"hi_{g}"),
                    F.sum(F.when(cond, F.col("n_segments"))).alias(f"nseg_{g}"),
                    F.sum(F.when(cond, F.col("df"))).alias(f"np_{g}"),
                    F.sum(F.when(cond, F.col("bytes"))).alias(f"bytes_{g}"),
                ]
            terms = terms.observe(obs, *aggs)
        terms.write.mode("overwrite").partitionBy("group").parquet(str(out / "terms"))
        if obs is not None:
            got = obs.get
            rows = [
                ("postings", g, got[f"lo_{g}"], got[f"hi_{g}"],
                 got[f"nseg_{g}"], got[f"np_{g}"], got[f"bytes_{g}"],
                 wall_ms_total, snapshot, "done")
                for g in range(self.cfg.n_groups)
                if got[f"nseg_{g}"] is not None  # group may be empty
            ]
        else:
            td = self.spark.read.parquet(str(out / "terms"))
            stats = td.groupBy("group").agg(
                F.min("term").alias("lo"), F.max("term").alias("hi"),
                F.sum("n_segments").alias("nseg"), F.sum("df").alias("np"),
                F.sum("bytes").alias("bytes"),
            ).collect()
            rows = [
                ("postings", int(r["group"]), r["lo"], r["hi"], r["nseg"],
                 r["np"], r["bytes"], wall_ms_total, snapshot, "done")
                for r in stats
            ]
        if getattr(self, "_defer_manifest", False):
            self._pending_manifest.extend(rows)
            return
        df = local_rows_df(self.spark, rows, MANIFEST_SCHEMA)
        df.write.mode("append").parquet(str(out / "_manifest"))

    def _build_all_groups(self, out: Path, id_range: tuple, snapshot: str) -> None:
        """Single-job stage 2: every group in one shuffle; postings land
        partitioned by group so the on-disk layout (and any later
        per-group rebuild/resume) is identical to the per-group path."""
        t0 = time.time()
        tok = self.spark.read.parquet(str(out / "tokens"))
        postings = self._encode_postings(tok, *id_range)
        postings.sortWithinPartitions("term", "salt").write.mode(
            "overwrite"
        ).partitionBy("group").parquet(str(out / "postings"))
        t_enc = time.time()
        pb = self.spark.read.parquet(str(out / "postings"))
        self._terms_and_manifest(
            out, pb, snapshot, int((time.time() - t0) * 1000)
        )
        self.last_group_timings = {
            "encode_write_s": round(t_enc - t0, 2),
            "terms_manifest_s": round(time.time() - t_enc, 2),
        }

    def _build_group(self, out: Path, g: int, id_range: tuple, snapshot: str):
        t0 = time.time()
        tok = self.spark.read.parquet(str(out / "tokens")).filter(F.col("group") == g)
        postings = self._encode_postings(tok, *id_range).drop("group")
        postings.sortWithinPartitions("term", "salt").write.mode("overwrite").parquet(
            str(out / "postings" / f"group={g}")
        )
        pb = self.spark.read.parquet(str(out / "postings" / f"group={g}"))
        terms = pb.groupBy("term").agg(
            F.sum("n_docs").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.count("*").alias("n_segments"),
            F.sum("seg_bytes").alias("bytes"),
        )
        terms.write.mode("overwrite").parquet(str(out / "terms" / f"group={g}"))
        td = self.spark.read.parquet(str(out / "terms" / f"group={g}"))
        m = td.select(
            F.min("term").alias("lo"), F.max("term").alias("hi"),
            F.sum("n_segments").alias("nseg"), F.sum("df").alias("np"),
            F.sum("bytes").alias("bytes"),
        ).first()
        self._manifest_row(
            out, stage="postings", group=g, snapshot=snapshot,
            term_lo=m["lo"], term_hi=m["hi"], n_terms=m["nseg"],
            n_postings=m["np"], nbytes=m["bytes"],
            wall_ms=int((time.time() - t0) * 1000),
        )

    def _manifest_row(
        self, out: Path, *, stage: str, group: int, snapshot: str,
        term_lo: str | None = None, term_hi: str | None = None,
        n_terms: int | None = None, n_postings: int | None = None,
        nbytes: int | None = None, wall_ms: int = 0,
    ):
        row = (stage, group, term_lo, term_hi, n_terms, n_postings, nbytes, wall_ms, snapshot, "done")
        if getattr(self, "_defer_manifest", False):
            self._pending_manifest.append(row)
            return
        df = local_rows_df(self.spark, [row], MANIFEST_SCHEMA)
        df.write.mode("append").parquet(str(out / "_manifest"))

    def _flush_manifest(self, out: Path):
        if not getattr(self, "_pending_manifest", None):
            return
        df = local_rows_df(self.spark, self._pending_manifest, MANIFEST_SCHEMA)
        df.write.mode("append").parquet(str(out / "_manifest"))
        self._pending_manifest = []
