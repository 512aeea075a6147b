"""ES request-DSL entry point: run an ElasticSearch-style JSON query
body against a :class:`~xml_to_es_spark.operators.query_engine.QueryEngine`.

The reference talks to ElasticSearch over exactly this surface — it
PUTs documents and its users query them with the ES search DSL
(reference ElasticIndexer.js builds the index half; the query half
lives in ES itself). This module closes that loop: a reference user's
search bodies run unchanged against the Spark-native engine, routed to
the already-implemented (and oracle-verified) operator paths.

Supported body shape (the subset the engine implements — unknown keys
raise, nothing is silently ignored)::

    {
      "query": {
        "match":              {field: text | {"query": text,
                               "operator": "and"|"or",
                               "fuzziness": N,
                               "minimum_should_match": M}},
        "match_phrase":       {field: text | {"query": text, "slop": N}},
        "match_phrase_prefix": {field: text | {"query": text,
                               "max_expansions": N}},
        "match_bool_prefix":  {field: text | {"query": text,
                               "max_expansions": N}},
        "multi_match":        {"query": text, "fields": ["title^2", ...],
                               "type": "best_fields"|"most_fields",
                               "tie_breaker": t},
        "bool":               {"must"/"should"/"must_not": clause|[clauses],
                               "filter": clause|[clauses],
                               "minimum_should_match": n | "NN%",
                               "boost": b}
                              # clauses: {"match": {field: text |
                              #   {"query": text, "operator": ...,
                              #    "boost": b}}}, nested {"bool": {...}},
                              # or structured term/terms/range/exists
                              # (any role; non-scoring). Multi-token
                              # match clauses OR their tokens (ES).
        "term"/"terms"/"range"/"exists":  top-level = match_all + filter
        "ids":                {"values": [doc_id, ...]},
        "wildcard":           {field: {"value": "fo*o?", "boost": b,
                               "max_expansions": N}},  # constant score
        "regexp":             {field: {"value": "w[0-9]+", ...}},  # anchored
        "constant_score":     {"filter": {<any clause here>}, "boost": b},
        "fuzzy":              {field: {"value": v, "fuzziness": N}},
        "terms_set":          {field: {"terms": [...],
                               "minimum_should_match_field": col}},
        "pinned":             {"ids": [...], "organic": {<bool-
                               expressible clause>}},  # ids rank first
        "span_term":          {field: v},
        "span_near":          {"clauses": [span_terms...],
                               "in_order": true, "slop": 0},
        "span_first":         {"match": {span_term|span_near},
                               "end": N},  # occurrence ends ≤ N
        "match_none":         {},
        "simple_query_string": {"query": "+req -excl optional"},
        "query_string":       {"query": 'title:a AND (b OR "c d"~2)^2 '
                               'lang:en n_chars:[100 TO *] fuzz~1 wild*',
                               "default_field": f,
                               "default_operator": "or"|"and",
                               "max_expansions": N},
                              # the full Lucene syntax — see
                              # operators/query_string.py for the
                              # grammar and documented deviations
        "function_score":     {"query": {...}, "functions": [
                               {"field_value_factor"/"gauss"/"exp"/
                                "linear"/"weight": ...,
                                "filter": structured-clause}],
                               "score_mode"/"boost_mode"/"max_boost"/
                               "min_score": ...}   # or ONE inline function
      },
      "size": k, "from": n,
      "search_after": [score, doc_id]        # single-query cursor
                    | [sort-values..., doc_id],  # with sort-by-field
      "sort": [{f1: {"order": "asc"|"desc"}}, {f2: ...}] | "_score",
      "aggs": {name: {"terms": {"field": f, "size": N} |
                      "histogram": {"field": f, "interval": x} |
                      "date_histogram": {"field": f,
                                         "calendar_interval": "day"} |
                      "range": {"field": f, "ranges": [
                                {"key": k, "from": a, "to": b}, ...]} |
                      "filters": {"filters": {name: structured-clause}} |
                      "rare_terms": {"field": f, "max_doc_count": N} |
                      "multi_terms": {"terms": [{"field": a},
                                                {"field": b}]} |
                      "auto_date_histogram": {"field": f,
                                              "buckets": N} |
                      "composite": {"sources": [...], "size": N,
                                    "after": {name: value}},
                      "aggs": {alias: {"avg"/"sum"/"min"/"max"/
                                       "cardinality"/"value_count"/
                                       "missing"/"stats"/
                                       "extended_stats"/"percentiles"/
                                       "percentile_ranks":
                                       {"field": f},
                               "weighted_avg": {"value": {"field": v},
                                                "weight": {"field": w}}}
                               # OR one nested BUCKET agg (one level:
                               # e.g. date_histogram → terms) whose own
                               # "aggs" are the metrics; rows come back
                               # flattened per (bucket, sub-bucket)
                              }}},
      "collapse": {"field": f},               # one best hit per value
      "track_total_hits": true,               # hits page + ES total
      "highlight": {...},                     # any value → snippet col
      "post_filter": {structured-clause} | {"bool": {"filter"/"must_not"
                      : [...]}},  # hits-only filter (aggs ignore it —
                                  # the ES faceted-search contract)
      "min_score": x                          # score cutoff on the page
    }

Semantics and limits:

- One body = one query (ES msearch batching is the engine's native
  ``queries`` list — :func:`es_msearch` exposes it);
  :func:`es_count` is the ES ``_count`` API (match-set cardinality,
  no paging) and ``collapse`` is ES field collapsing (the full match
  set grouped to one best hit per doc value — dedup-by-site), both
  over the bool-tree match machinery.
- ``match`` on the default field of a single-field index may name the
  field ``"text"`` or use the stored field name of a fielded index.
- ``aggs`` run INSTEAD of hits when present without an explicit
  ``size`` (ES returns both; request hits explicitly with ``size`` to
  get both here — two jobs, same engine).
- ``sort`` by one or more stored doc values, applied in order
  (``_score`` left out — ES's replace-the-ranking semantics), on
  match / bool / ids / structured queries
  (:meth:`QueryEngine.sort_topk` / :meth:`QueryEngine.bool_sort_topk`);
  ``search_after`` beside ``sort`` carries the last hit's sort-key
  values + doc_id (the ES deep-pagination cursor) and filters before
  ranking — k-sized windows at any depth.
"""

from __future__ import annotations

import re

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xml_to_es_spark.operators.query_engine import QueryEngine
from xml_to_es_spark.session import local_rows_df

_MATCH_KEYS = {"query", "operator", "fuzziness", "minimum_should_match",
               "max_expansions", "slop"}
_STRUCTURED = ("term", "terms", "range", "exists")

# the ES pinned-query score constant (Lucene's pinned weight): pinned
# docs score _PINNED_SCORE - position·_PINNED_STEP, above any BM25
# score. The step must exceed the float64 ulp at 1.7e38 (~1e22) or
# every pin would tie — ES works in float32 where unit steps resolve;
# the ordering contract is identical
_PINNED_SCORE = 1.7014124e38
_PINNED_STEP = 1e30


def _field_text(
    spec: dict,
    allowed: set[str] | None = None,
    extra_keys: frozenset[str] = frozenset(),
) -> tuple[str, dict]:
    """{field: text | {…options}} → (field, options-dict with 'query').
    ``extra_keys`` widens the accepted option set for contexts that
    support more than the base match options (bool clauses accept
    ``boost``)."""
    (fld, v), = spec.items()
    opts = dict(v) if isinstance(v, dict) else {"query": v}
    bad = set(opts) - _MATCH_KEYS - extra_keys
    if bad or "query" not in opts:
        raise ValueError(f"unsupported match option(s) {sorted(bad)}")
    if allowed is not None:
        extra = set(opts) - allowed - {"query"}
        if extra:
            raise ValueError(f"option(s) {sorted(extra)} not valid here")
    return fld, opts


def _parse_simple_query(text: str) -> dict:
    """ES simple_query_string: ``+atom`` → must, ``-atom`` → must_not,
    bare atoms → should (the ES default_operator OR), where an atom is
    a term, a ``"quoted phrase"`` (a match_phrase clause), or a
    ``(a | b)`` group (a nested bool of OR'd atoms; ``|`` is the ES OR
    and is supported INSIDE groups — a top-level ``|`` raises, and
    groups don't nest). Plain all-term queries return the legacy flat
    clause dict (bit-identical scoring to the flat bool path); quoted
    phrases or groups return the engine's rich nested-tree spec."""
    n = len(text)

    def read_atom(j: int) -> tuple[dict, int]:
        if text[j] == '"':
            end = text.find('"', j + 1)
            if end < 0:
                raise ValueError("simple_query_string: unterminated quote")
            if not text[j + 1:end].strip():
                raise ValueError("simple_query_string: empty phrase")
            return {"match_phrase": {"query": text[j + 1:end]}}, end + 1
        if text[j] == "(":
            end = text.find(")", j + 1)
            if end < 0:
                raise ValueError("simple_query_string: unmatched '('")
            inner = text[j + 1:end]
            if "(" in inner:
                raise ValueError("simple_query_string: groups don't nest")
            subs = []
            for p in (p.strip() for p in inner.split("|")):
                if not p:
                    raise ValueError("simple_query_string: empty group atom")
                if p.startswith('"') and p.endswith('"') and len(p) > 2:
                    subs.append({"match_phrase": {"query": p[1:-1]}})
                else:
                    subs.append({"match": {"query": p}})
            return {"bool": {"should": subs}}, end + 1
        k = j
        while k < n and not text[k].isspace():
            k += 1
        w = text[j:k]
        if "|" in w or ")" in w:
            raise ValueError(
                "simple_query_string: '|' is only supported inside a "
                "(a | b) group"
            )
        return {"match": {"query": w}}, k

    atoms: list[tuple[str, dict]] = []
    i = 0
    while i < n:
        if text[i].isspace():
            i += 1
            continue
        sign = ""
        if text[i] in "+-" and i + 1 < n and not text[i + 1].isspace():
            sign = text[i]
            i += 1
        clause, i = read_atom(i)
        atoms.append((sign, clause))
    if not atoms:
        raise ValueError("empty simple_query_string")
    plain = all(
        "match" in c and " " not in c["match"]["query"]
        for _s, c in atoms
    )
    if plain:
        out: dict = {}
        role_of = {"+": "must", "-": "must_not", "": "should"}
        for sign, c in atoms:
            role = role_of[sign]
            out[role] = (out.get(role, "") + " " + c["match"]["query"]).strip()
        return out
    rich: dict = {}
    role_of = {"+": "must", "-": "must_not", "": "should"}
    for sign, c in atoms:
        rich.setdefault(role_of[sign], []).append(c)
    return rich


def _compile_script_score(source: str, params: dict) -> tuple[str, list]:
    """Painless ARITHMETIC-LITERAL subset → one Spark SQL expression:
    ``_score``, ``doc['field'].value``, ``params.x`` (numeric),
    numeric literals, ``+ - * / ( )``, ``Math.log`` (→ ln),
    ``Math.log10`` (→ log10) and ``Math.sqrt``. Returns (sql_expr,
    doc-value columns). Anything outside the whitelist raises — the
    repo's nothing-silently-ignored contract for scripts."""
    import re as _re2

    cols = _re2.findall(r"doc\['(\w+)'\]\.value", source)
    expr = _re2.sub(r"doc\['(\w+)'\]\.value",
                    lambda m: f"(cast(`{m.group(1)}` as double))", source)

    def sub_param(m):
        name = m.group(1)
        if name not in params:
            raise ValueError(
                f"script references params.{name} but params defines "
                f"{sorted(params)}"
            )
        return f"({float(params[name])!r})"

    expr = _re2.sub(r"params\.(\w+)", sub_param, expr)
    # whole function tokens only (Painless allows whitespace before
    # the paren): Math.log10 maps to SQL log10, never to ln10, and
    # any other Math.* name stays put and fails the whitelist below
    # with the documented ValueError instead of an AnalysisException
    expr = _re2.sub(r"\bMath\.log10\s*\(", "log10(", expr)
    expr = _re2.sub(r"\bMath\.log\s*\(", "ln(", expr)
    expr = _re2.sub(r"\bMath\.sqrt\s*\(", "sqrt(", expr)
    expr = _re2.sub(r"\b_score\b", "(cast(`_score` as double))", expr)
    leftover = _re2.sub(
        r"\(cast\(`\w+` as double\)\)|\b(?:log10|ln|sqrt)\(|[\s0-9.+\-*/()]",
        "", expr,
    )
    if leftover or "**" in expr or "//" in expr:
        raise ValueError(
            f"unsupported script syntax "
            f"{(leftover or '** or //')!r} — the supported "
            "subset is _score, doc['field'].value, params.x, numeric "
            "literals, + - * / ( ), Math.log, Math.log10, Math.sqrt"
        )
    try:
        F.expr(expr)
    except Exception as ex:
        raise ValueError(f"script does not parse: {ex}") from None
    return expr, cols


class EsRequest:
    """Parsed ES body → a routed engine call. Use :func:`es_search`."""

    def __init__(self, engine: QueryEngine, body: dict):
        self.eng = engine
        bad = set(body) - {
            "query", "size", "from", "search_after", "sort", "aggs",
            "highlight", "track_scores", "collapse", "track_total_hits",
            "suggest", "rescore", "docvalue_fields", "post_filter",
            "min_score", "_source", "knn",
        }
        if bad:
            raise ValueError(f"unsupported body key(s) {sorted(bad)}")
        self.body = body
        self.k = int(body.get("size", 10))
        self.from_ = int(body.get("from", 0))
        if "track_scores" in body:
            # nothing silently ignored: the sort path ALWAYS carries
            # the BM25 score column (track_scores=true), so the key is
            # only meaningful beside sort and only as true
            if "sort" not in body:
                raise ValueError(
                    "track_scores only applies beside sort (relevance "
                    "pages always carry scores)"
                )
            if not body["track_scores"]:
                raise ValueError(
                    "track_scores=false is not supported — sort pages "
                    "always carry the score column; omit the key"
                )

    def _as_bool_tree(self, q: dict | None = None) -> tuple[dict, str | None]:
        """Translate a query clause (default: the body's) to a rich
        bool-tree spec + field argument — the shared form behind
        ``_count``, ``collapse``, ``track_total_hits`` and
        ``constant_score``. Kinds whose match sets are not
        bool-expressible (multi_match, fuzziness, prefix expansion)
        raise."""
        (kind, spec), = (q if q is not None else self.body["query"]).items()
        if kind == "match":
            fld, opts = _field_text(spec, allowed={"operator"})
            return (
                {"must": [{"match": {"query": opts["query"],
                                     "operator": opts.get("operator", "or")}}]},
                self._resolve_match_field(fld),
            )
        if kind == "match_phrase":
            fld, opts = _field_text(spec, allowed={"slop"})
            return (
                {"must": [{"match_phrase": {
                    "query": opts["query"],
                    "slop": int(opts.get("slop", 0))}}]},
                self._resolve_match_field(fld),
            )
        if kind == "bool":
            return self._bool_spec(spec)
        if kind == "simple_query_string":
            opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
            bad = set(opts) - {"query", "fields"}
            if bad:
                raise ValueError(
                    f"unsupported simple_query_string option(s) {sorted(bad)}"
                )
            flds = list(opts.get("fields", []))
            if len(flds) > 1:
                raise ValueError("simple_query_string: one field supported")
            return (
                _parse_simple_query(opts["query"]),
                self._resolve_match_field(flds[0]) if flds else None,
            )
        if kind == "query_string":
            return self._query_string_spec(spec), None
        if kind == "ids":
            vals = [int(v) for v in spec["values"]]
            return {"filter": [{"terms": {"doc_id": vals}}]}, None
        if kind in _STRUCTURED:
            return {"filter": [{kind: spec}]}, None
        if kind in ("dis_max", "boosting", "nested"):
            return {"must": [self._rich_clause({kind: spec})]}, None
        raise ValueError(
            f"query kind {kind!r} is not supported here (match / "
            "match_phrase / bool / simple_query_string / query_string / "
            "ids / nested / structured are)"
        )

    def _highlight_terms(self) -> list[str]:
        """Tokens to mark in highlight snippets, collected from the
        body's query — the SCORING text clauses only (must/should
        context of the compiled tree; filter/must_not and structured
        clauses contribute none, the ES unified-highlighter default).
        Multi-term expansions (fuzziness, prefix, wildcard) highlight
        their LITERAL tokens, not the dictionary variants — a
        documented deviation (ES marks the matched variants)."""
        q = self.body.get("query", {})
        (kind, spec), = q.items()
        if kind in ("match", "match_phrase", "match_phrase_prefix",
                    "match_bool_prefix"):
            _fld, opts = _field_text(
                spec, allowed={"operator", "fuzziness",
                               "minimum_should_match", "slop",
                               "max_expansions"},
            )
            return sorted(set(self.eng._tokenize(opts["query"])))
        if kind == "multi_match":
            return sorted(set(self.eng._tokenize(spec["query"])))
        if kind in ("bool", "simple_query_string", "query_string",
                    "dis_max", "boosting"):
            espec, _f = self._as_bool_tree(q)
            acc: set[str] = set()
            self._collect_scoring_tokens(espec, acc)
            terms = sorted(acc)
            if not terms:
                raise ValueError(
                    "highlight: the query has no scoring text clauses "
                    "to mark (filter-only / constant_score queries "
                    "highlight nothing)"
                )
            return terms
        raise ValueError(
            f"highlight is not supported on {kind!r} queries"
        )

    def _collect_scoring_tokens(self, espec: dict, acc: set) -> None:
        """Walk a bool NODE spec (legacy flat or rich) gathering the
        tokens of scoring text clauses into ``acc`` (analyzed with the
        index's stored chain)."""
        tokenize = self.eng._tokenize
        for role in ("must", "should"):
            v = espec.get(role)
            if v is None:
                continue
            if isinstance(v, str):  # legacy flat: role → token string
                acc.update(tokenize(v))
                continue
            for cl in (v if isinstance(v, list) else [v]):
                (ck, cs), = cl.items()
                if ck in ("match", "match_phrase"):
                    txt = cs["query"] if isinstance(cs, dict) else cs
                    acc.update(tokenize(txt))
                elif ck == "bool":
                    self._collect_scoring_tokens(cs, acc)
                elif ck == "dis_max":
                    for c in cs["queries"]:
                        self._collect_scoring_tokens(
                            {"should": [c]}, acc
                        )
                elif ck == "boosting":
                    self._collect_scoring_tokens(
                        {"must": [cs["positive"]]}, acc
                    )
                # constant_score / structured: filter context, no terms

    def _localize_page(self, hits: DataFrame) -> tuple[list, DataFrame]:
        """Collect the hit page ONCE (≤ queries×k rows by construction)
        and rebuild it as a local DataFrame — the retrieval joins below
        would otherwise re-execute the full ranking plan (once for the
        pushed-id collect, again when the lazy page is joined)."""
        rows = hits.collect()
        return (
            [int(r["doc_id"]) for r in rows],
            local_rows_df(self.eng.spark, rows, hits.schema),
        )

    def _docvalue_cols(self) -> set:
        """Stored doc-value column names of the engine's index (the
        ``field:`` targets that compile to structured filters rather
        than text matches) — the live docs table's schema minus the
        indexed text fields. One parquet-footer schema read, no data."""
        from xml_to_es_spark.operators.index_build import live_docs

        cols = set(live_docs(self.eng.spark, self.eng.dir).columns)
        return cols - set(self.eng.fields) - {"text"}

    def _query_string_spec(self, spec) -> dict:
        """ES ``query_string`` body → the engine's rich bool-tree spec
        (full Lucene syntax — grammar and deviations documented in
        :mod:`xml_to_es_spark.operators.query_string`). Fuzzy and
        wildcard atoms expand against the terms dictionary here
        (bounded: ≤ max_expansions per atom, the capped-in-plan
        expansion paths), so the resolved spec contains only literal
        terms — one bool-tree pass, one postings scan."""
        from xml_to_es_spark.operators.query_string import (
            parse_query_string,
        )

        opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
        bad = set(opts) - {"query", "default_field", "default_operator",
                           "max_expansions"}
        if bad or "query" not in opts:
            raise ValueError(
                f"query_string supports query/default_field/"
                f"default_operator/max_expansions, got "
                f"{sorted(bad) or 'no query'}"
            )
        cap = int(opts.get("max_expansions", 50))

        def expand(ekind, pattern, field, fuzziness, cap_):
            f = self._resolve_match_field(field) if field else None
            if ekind == "fuzzy":
                stored = self.eng.fuzzy_variants(
                    [pattern], int(fuzziness or 1), field=f,
                    max_expansions=cap_,
                )[pattern]
            else:
                stored = self.eng.wildcard_variants(
                    [pattern], field=f, max_expansions=cap_,
                )[pattern]
            # match leaves re-prefix via their field key, so hand
            # back BARE tokens
            return [t[len(f) + 1:] if f else t for t in stored]

        return parse_query_string(
            opts["query"],
            default_field=opts.get("default_field"),
            default_operator=str(
                opts.get("default_operator", "or")
            ).lower(),
            docvalue_fields=self._docvalue_cols(),
            expand=expand,
            max_expansions=cap,
        )

    def count(self) -> DataFrame:
        """ES ``_count``: (query_id, total) for the body's query —
        no paging keys allowed beside it."""
        extra = set(self.body) - {"query"}
        if extra:
            raise ValueError(
                f"_count takes a query only; remove {sorted(extra)}"
            )
        espec, fld = self._as_bool_tree()
        return self.eng.bool_count([(0, espec)], field=fld)

    def match_hits(self) -> DataFrame:
        """The body's FULL match set as (query_id 0, doc_id, score) —
        no top-k, nothing collected (the scale-honest scroll). Query
        only (no paging keys)."""
        extra = set(self.body) - {"query"}
        if extra:
            raise ValueError(
                f"the full match set takes a query only; remove {sorted(extra)}"
            )
        espec, fld = self._as_bool_tree()
        return self.eng.bool_match_hits([(0, espec)], field=fld)

    def match_ids(self) -> DataFrame:
        """The body's FULL match set as (query_id 0, doc_id) — the
        shared front half of ``_delete_by_query`` /
        ``_update_by_query``."""
        return self.match_hits().select("query_id", "doc_id")

    # query kinds that route a search_after cursor to the engine —
    # every other kind REJECTS the cursor (nothing silently ignored)
    _CURSOR_KINDS = {"match", "bool", "match_phrase", "match_phrase_prefix",
                     "match_bool_prefix", "multi_match"}

    # -- query-clause routing ------------------------------------------------

    def _resolve_match_field(self, fld: str) -> str | None:
        """ES field name → engine ``field=`` argument (None for the
        single analyzed field of an unfielded index)."""
        if self.eng.fielded:
            return fld
        return None

    def _hits(self) -> DataFrame:
        q = self.body.get("query", {"match_all": {}})
        if len(q) != 1:
            raise ValueError("query must have exactly one top-level clause")
        (kind, spec), = q.items()
        eng, k, from_ = self.eng, self.k, self.from_

        if self.body.get("post_filter") is not None:
            # ES post_filter: the hit page is top-k of query ∧ filter
            # (scored by the query alone — filter context adds 0),
            # while aggs run on the UNFILTERED query match set (the
            # faceted-search contract; the aggs path never reads
            # post_filter by design). Implemented by wrapping the
            # query as a scoring sub-bool and attaching the filter
            # clauses beside it — one bool_topk call, no second scan.
            combos = {"sort", "collapse", "search_after",
                      "track_total_hits"} & set(self.body)
            if combos:
                raise ValueError(
                    f"post_filter beside {sorted(combos)} is not supported"
                )
            pf = self.body["post_filter"]
            if not (isinstance(pf, dict) and len(pf) == 1):
                raise ValueError("post_filter takes exactly one clause")
            (pk, ps), = pf.items()
            pfspec = (self._rich_bool_body(ps) if pk == "bool"
                      else self._as_bool_tree(pf)[0])
            bad_roles = set(pfspec) - {"filter", "must_not"}
            if bad_roles:
                raise ValueError(
                    f"post_filter is filter context — {sorted(bad_roles)} "
                    "clauses are not allowed (they would change scores)"
                )
            if kind == "bool":
                # force the rich tree: a sub-bool clause body must be
                # the nested-tree form, not the legacy flat dict
                espec, fld = self._rich_bool_body(spec), None
            else:
                espec, fld = self._as_bool_tree()
            merged: dict = {"must": [{"bool": espec}]}
            for role in ("filter", "must_not"):
                if pfspec.get(role):
                    merged[role] = list(pfspec[role])
            return eng.bool_topk([(0, merged)], k=k, field=fld, from_=from_)

        if self.body.get("collapse") is not None:
            col = self.body["collapse"]
            if not (isinstance(col, dict) and set(col) == {"field"}):
                raise ValueError('collapse takes {"field": name}')
            combos = {"sort", "search_after", "aggs", "highlight"} & set(
                self.body
            )
            if combos:
                raise ValueError(
                    f"collapse beside {sorted(combos)} is not supported"
                )
            espec, fld = self._as_bool_tree()
            return eng.collapse_topk(
                [(0, espec)], collapse=col["field"], k=k, field=fld,
                from_=from_,
            )

        if self.body.get("track_total_hits"):
            # totals need the FULL match set, so the page routes over
            # the bool-tree machinery (WAND pruning cannot count what
            # it skips); the total rides the same shuffle as the rank
            combos = {"sort", "search_after", "aggs", "highlight",
                      "collapse"} & set(self.body)
            if combos:
                raise ValueError(
                    f"track_total_hits beside {sorted(combos)} is not "
                    "supported"
                )
            espec, fld = self._as_bool_tree()
            return eng.bool_topk(
                [(0, espec)], k=k, field=fld, from_=from_,
                track_total_hits=True,
            )

        sort = self.body.get("sort")
        if sort and sort != "_score":
            after = None
            if "search_after" in self.body:
                # ES sort cursors carry the last hit's SORT-KEY values
                # + its doc_id (not (score, doc_id)); the engine
                # filters on that exact tuple before ranking
                after = list(self.body["search_after"])
                if from_:
                    raise ValueError("search_after and from are exclusive")
            entries = sort if isinstance(sort, list) else [sort]
            specs = []
            for ent in entries:
                if ent == "_score":
                    raise ValueError(
                        "_score inside a sort list is not supported — "
                        "drop sort for relevance ranking"
                    )
                (sf, sspec), = ent.items()
                asc = (sspec.get("order", "asc") if isinstance(sspec, dict)
                       else sspec) == "asc"
                specs.append((sf, asc))
            drop_cols = [c for c, _ in specs]
            if kind == "match":
                fld, opts = _field_text(spec, allowed={"minimum_should_match"})
                out = eng.sort_topk(
                    [(0, opts["query"])], by=specs, k=k,
                    min_match=opts.get("minimum_should_match"),
                    field=self._resolve_match_field(fld), from_=from_,
                    search_after=after,
                )
            elif kind == "bool":
                espec, bfld = self._bool_spec(spec)
                out = eng.bool_sort_topk(
                    [(0, espec)], by=specs, k=k, field=bfld, from_=from_,
                    search_after=after,
                )
            elif kind == "ids":
                vals = [int(v) for v in spec["values"]]
                out = eng.bool_sort_topk(
                    [(0, {"filter": [{"terms": {"doc_id": vals}}]})],
                    by=specs, k=k, from_=from_, search_after=after,
                )
            elif kind in _STRUCTURED or kind == "nested":
                if kind == "nested":
                    # scores are unused under sort-by-field: strip the
                    # score-only keys (score_mode/boost/_name) so the
                    # path+query filter form is what reaches
                    # _structured_pred_sql (the full spec would raise a
                    # misleading 'path + query' error)
                    spec = {
                        k2: v for k2, v in spec.items()
                        if k2 not in ("score_mode", "boost", "_name")
                    }
                out = eng.bool_sort_topk(
                    [(0, {"filter": [{kind: spec}]})], by=specs, k=k,
                    from_=from_, search_after=after,
                )
            elif kind == "query_string":
                out = eng.bool_sort_topk(
                    [(0, self._query_string_spec(spec))], by=specs, k=k,
                    from_=from_, search_after=after,
                )
            else:
                raise ValueError(
                    "sort-by-field supports match / bool / ids / "
                    "query_string / structured queries"
                )
            return out.drop(*drop_cols)

        cursor = None
        if "search_after" in self.body:
            s, d = self.body["search_after"]
            cursor = {0: (float(s), int(d))}
            if kind not in self._CURSOR_KINDS:
                # nothing is silently ignored: any kind that does not
                # route the cursor must reject it, or a pagination
                # loop would re-serve page 1 forever
                raise ValueError(
                    f"search_after is not supported on {kind!r} queries"
                )

        if kind == "match":
            fld, opts = _field_text(spec)
            f = self._resolve_match_field(fld)
            if opts.get("fuzziness"):
                conflicting = {"operator", "minimum_should_match"} & set(opts)
                if conflicting:
                    # the fuzzy path has no min_match plumbing — an AND
                    # fuzzy match would silently run as OR
                    raise ValueError(
                        f"fuzziness cannot be combined with "
                        f"{sorted(conflicting)} (the fuzzy path scores "
                        "every expansion disjunctively)"
                    )
                return eng.topk_wand(
                    [(0, opts["query"])], k=k, field=f, from_=from_,
                    fuzziness=int(opts["fuzziness"]), search_after=cursor,
                )
            mm = opts.get("minimum_should_match")
            if opts.get("operator", "or").lower() == "and":
                mm = "all"
            return eng.topk_wand(
                [(0, opts["query"])], k=k, field=f, from_=from_,
                search_after=cursor, min_match=mm,
            )
        if kind == "match_phrase":
            fld, opts = _field_text(spec, allowed={"slop"})
            return eng.phrase_topk(
                [(0, opts["query"])], k=k, from_=from_,
                field=self._resolve_match_field(fld),
                slop=int(opts.get("slop", 0)),
                search_after=cursor,
            )
        if kind == "match_phrase_prefix":
            fld, opts = _field_text(spec, allowed={"max_expansions"})
            return eng.phrase_prefix_topk(
                [(0, opts["query"])], k=k, from_=from_,
                field=self._resolve_match_field(fld),
                max_expansions=int(opts.get("max_expansions", 50)),
                search_after=cursor,
            )
        if kind == "match_bool_prefix":
            fld, opts = _field_text(spec, allowed={"max_expansions"})
            return eng.prefix_topk(
                [(0, opts["query"])], k=k, from_=from_,
                field=self._resolve_match_field(fld),
                max_expansions=int(opts.get("max_expansions", 50)),
                search_after=cursor,
            )
        if kind == "multi_match":
            opts = dict(spec)
            bad = set(opts) - {"query", "fields", "type", "tie_breaker"}
            if bad:
                raise ValueError(f"unsupported multi_match option(s) {sorted(bad)}")
            return eng.multi_match(
                [(0, opts["query"])], k=k, from_=from_,
                fields=opts.get("fields"),
                match_type=opts.get("type", "best_fields"),
                tie_breaker=float(opts.get("tie_breaker", 0.0)),
                search_after=cursor,
            )
        if kind == "bool":
            espec, bfld = self._bool_spec(spec)
            return eng.bool_topk(
                [(0, espec)], k=k, from_=from_, field=bfld,
                search_after=cursor,
            )
        if kind in ("dis_max", "boosting", "nested"):
            inner_hits = None
            if kind == "nested" and isinstance(spec, dict) \
                    and "inner_hits" in spec:
                # ES inner_hits on a TOP-LEVEL nested query: each hit
                # carries the matching nested objects. DataFrame
                # adaptation: an `inner_hits` ARRAY column holding the
                # objects that satisfied the inner query (the same
                # element predicate, zero extra scans — the path
                # column is already in the doc-values projection).
                spec = dict(spec)
                ih = spec.pop("inner_hits")
                if ih not in ({}, None):
                    raise ValueError(
                        "inner_hits takes an empty body (size/sort/"
                        "name are not supported — the column carries "
                        "ALL matching objects)"
                    )
                inner_hits = (str(spec["path"]), spec["query"])
            espec = {"must": [self._rich_clause({kind: spec})]}
            out = eng.bool_topk([(0, espec)], k=k, from_=from_)
            if inner_hits is not None:
                path, q = inner_hits
                ids, out = self._localize_page(out)
                objs = eng._doc_values([path]).filter(
                    F.col("doc_id").isin(ids)
                ).select(
                    "doc_id",
                    F.expr(
                        f"filter({QueryEngine._sql_ident(path)}, x -> "
                        f"{QueryEngine._nested_elem_sql(path, q)})"
                    ).alias("inner_hits"),
                )
                out = out.join(F.broadcast(objs), "doc_id", "left").select(
                    "query_id", "rank", "doc_id", "score", "inner_hits"
                )
            return out
        if kind == "more_like_this":
            m = dict(spec)
            bad = set(m) - ({"fields"} | QueryEngine._MLT_KEYS)
            if bad:
                raise ValueError(
                    f"unsupported more_like_this option(s) {sorted(bad)}"
                )
            flds = list(m.pop("fields", []))
            if len(flds) > 1:
                raise ValueError("more_like_this: one field supported")

            def _conv(like):
                if isinstance(like, dict):
                    if set(like) != {"_id"}:
                        raise ValueError(
                            f"doc likes are {{'_id': N}}, got {like!r}"
                        )
                    return int(like["_id"])
                return like

            likes = m.get("like")
            m["like"] = ([_conv(x) for x in likes]
                         if isinstance(likes, list) else _conv(likes))
            return eng.more_like_this_topk(
                [(0, m)], k=k, from_=from_,
                field=self._resolve_match_field(flds[0]) if flds else None,
            )
        if kind == "script_score":
            # ES script_score: re-rank the inner query's FULL match
            # set by a painless ARITHMETIC-LITERAL subset — `_score`,
            # `doc['field'].value`, `params.x`, numeric literals,
            # + - * / ( ) and Math.log/Math.sqrt — compiled to one JVM
            # expression; anything else raises (nothing silently
            # ignored). The full set is required because a script can
            # INVERT the inner ranking (e.g. 1/_score), so no top-k
            # containment argument holds.
            bad = set(spec) - {"query", "script"}
            if bad or not ({"query", "script"} <= set(spec)):
                raise ValueError(
                    f"script_score takes query + script, got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            sc = spec["script"]
            if isinstance(sc, str):
                sc = {"source": sc}
            badk = set(sc) - {"source", "params"}
            if badk or "source" not in sc:
                raise ValueError(
                    f"script takes source (+params), got "
                    f"{sorted(badk) or 'no source'}"
                )
            expr, cols = _compile_script_score(
                str(sc["source"]), dict(sc.get("params") or {})
            )
            espec, fld = self._as_bool_tree(spec["query"])
            ms = eng._bool_tree_match_set([(0, espec)], field=fld)
            if ms is None:
                from xml_to_es_spark.operators.query_engine import (
                    TOPK_SCHEMA,
                )

                return local_rows_df(eng.spark, [], schema=TOPK_SCHEMA)
            ms = ms.select(
                "query_id", "doc_id", F.col("score").alias("_score")
            )
            if cols:
                ms = ms.join(
                    eng._doc_values(sorted(set(cols))), "doc_id", "left"
                )
            scored = ms.withColumn(
                "score", F.expr(expr).cast("double")
            )
            from pyspark.sql import Window as W

            w = W.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .filter((F.col("rank") > from_)
                        & (F.col("rank") <= from_ + k))
                .select("query_id", F.col("rank").cast("int"), "doc_id",
                        "score")
            )
        if kind == "function_score":
            fs = dict(spec)
            inline_kinds = ("field_value_factor", "gauss", "exp", "linear",
                            "weight", "filter")
            bad = set(fs) - ({"query", "functions", "score_mode",
                              "boost_mode", "max_boost", "min_score"}
                             | set(inline_kinds))
            if bad:
                raise ValueError(
                    f"unsupported function_score option(s) {sorted(bad)}"
                )
            if "query" not in fs:
                raise ValueError(
                    "function_score needs an inner query (a bare match_all "
                    "is rejected here like everywhere else — bound the "
                    "match set)"
                )
            inline = {kk: fs[kk] for kk in inline_kinds if kk in fs}
            if inline and "functions" in fs:
                raise ValueError(
                    "give either a functions array or ONE inline function, "
                    "not both"
                )
            functions = [inline] if inline else list(fs.get("functions", []))
            espec, fld = self._as_bool_tree(fs["query"])
            return eng.function_score_topk(
                [(0, espec)], functions, k=k, from_=from_,
                score_mode=str(fs.get("score_mode", "multiply")),
                boost_mode=str(fs.get("boost_mode", "multiply")),
                max_boost=fs.get("max_boost"),
                min_score=fs.get("min_score"),
                field=fld,
            )
        if kind == "simple_query_string":
            opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
            bad = set(opts) - {"query", "fields"}
            if bad:
                raise ValueError(
                    f"unsupported simple_query_string option(s) {sorted(bad)}"
                )
            flds = list(opts.get("fields", []))
            if len(flds) > 1:
                raise ValueError("simple_query_string: one field supported")
            clauses = _parse_simple_query(opts["query"])
            return eng.bool_topk(
                [(0, clauses)], k=k, from_=from_,
                field=self._resolve_match_field(flds[0]) if flds else None,
            )
        if kind == "query_string":
            return eng.bool_topk(
                [(0, self._query_string_spec(spec))], k=k, from_=from_,
            )
        if kind == "ids":
            vals = [int(v) for v in spec["values"]]
            return eng.bool_topk(
                [(0, {"filter": [{"terms": {"doc_id": vals}}]})], k=k, from_=from_
            )
        if kind in _STRUCTURED:
            # top-level structured query = ES filter-context shortcut
            return eng.bool_topk(
                [(0, {"filter": [{kind: spec}]})], k=k, from_=from_
            )
        if kind in ("wildcard", "regexp"):
            (fld, v), = spec.items()
            opts = dict(v) if isinstance(v, dict) else {"value": v}
            bad = set(opts) - {"value", "boost", "max_expansions"}
            if bad or "value" not in opts:
                raise ValueError(
                    f"{kind} supports value/boost/max_expansions, got "
                    f"{sorted(bad) or 'no value'}"
                )
            f = self._resolve_match_field(fld)
            fn = (eng.wildcard_variants if kind == "wildcard"
                  else eng.regexp_variants)
            stored = fn(
                [str(opts["value"])], field=f,
                max_expansions=int(opts.get("max_expansions", 50)),
            )[str(opts["value"])]
            bares = [t[len(f) + 1:] if f else t for t in stored]
            boost = float(opts.get("boost", 1.0))
            if not bares:
                return local_rows_df(eng.spark, 
                    [], schema="query_id long, rank int, doc_id long, "
                               "score double")
            # ES default rewrite for multi-term queries is
            # constant_score: every doc containing ANY expansion
            # matches at score = boost (ranked by doc_id — all ties)
            clause = {"match": {"query": " ".join(bares),
                                "operator": "or"}}
            if f:
                clause["match"]["field"] = f
            out = eng.bool_topk(
                [(0, {"filter": [clause]})], k=k, from_=from_, field=f,
            )
            from pyspark.sql import functions as SF

            return out.withColumn("score", SF.lit(boost))
        if kind == "constant_score":
            bad = set(spec) - {"filter", "boost"}
            if bad or "filter" not in spec:
                raise ValueError(
                    f"constant_score takes filter (+boost), got "
                    f"{sorted(bad) or 'no filter'}"
                )
            espec, fld = self._as_bool_tree(spec["filter"])
            boost = float(spec.get("boost", 1.0))
            out = eng.bool_topk(
                [(0, {"filter": [{"bool": espec}]})], k=k, from_=from_,
                field=fld,
            )
            from pyspark.sql import functions as SF

            return out.withColumn("score", SF.lit(boost))
        if kind == "fuzzy":
            (fld, v), = spec.items()
            opts = dict(v) if isinstance(v, dict) else {"value": v}
            bad = set(opts) - {"value", "fuzziness"}
            if bad or "value" not in opts:
                raise ValueError(
                    f"fuzzy supports value/fuzziness (the engine's "
                    f"expansion cap is fixed at 50, the ES default), got "
                    f"{sorted(bad) or 'no value'}"
                )
            return eng.topk_wand(
                [(0, str(opts["value"]))], k=k, from_=from_,
                field=self._resolve_match_field(fld),
                fuzziness=int(opts.get("fuzziness", 1)),
            )
        if kind == "terms_set":
            # ES terms_set: per-doc minimum_should_match from a stored
            # doc-value column (engine terms_set_topk — the bool agg
            # core + one column-pruned doc-values join)
            (fld, v), = spec.items()
            opts = dict(v) if isinstance(v, dict) else {}
            bad = set(opts) - {"terms", "minimum_should_match_field"}
            if bad:
                raise ValueError(
                    f"terms_set supports terms/minimum_should_match_field "
                    f"(scripted thresholds are not), got {sorted(bad)}"
                )
            return eng.terms_set_topk(
                [(0, opts)], k=k, from_=from_,
                field=self._resolve_match_field(fld),
            )
        if kind == "pinned":
            # ES pinned query: the given ids rank above every organic
            # hit, in the given order (ES assigns them descending
            # slices of its 1.7014124e38 pinned constant — reproduced
            # so the score column still sorts the page); organic hits
            # exclude the pinned ids (ES dedup). Pinned docs must be
            # LIVE (one pushed-id fetch); the organic leg is any
            # bool-expressible query.
            bad = set(spec) - {"ids", "organic"}
            if bad or not ({"ids", "organic"} <= set(spec)):
                raise ValueError(
                    f"pinned takes ids + organic, got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            ids = [int(i) for i in spec["ids"]]
            if not ids or len(set(ids)) != len(ids):
                raise ValueError("pinned ids must be non-empty and unique")
            (okind, ospec), = spec["organic"].items()
            if okind == "bool":
                oespec, fld = self._rich_bool_body(ospec), None
            else:
                oespec, fld = self._as_bool_tree(spec["organic"])
            merged = {"must": [{"bool": oespec}],
                      "must_not": [{"terms": {"doc_id": ids}}]}
            # Fetch the organic leg from_+k deep: the final window pages
            # over pins+organic, so a page past the live-pin count must
            # still find from_+k organic rows (from_=0 degenerates to k).
            organic = eng.bool_topk(
                [(0, merged)], k=from_ + k, field=fld
            ).select("query_id", "doc_id", "score")
            live = {
                int(r["doc_id"])
                for r in eng.fetch(ids).select("doc_id").collect()
            }
            pin_rows = [
                (0, d, _PINNED_SCORE - pos * _PINNED_STEP)
                for pos, d in enumerate(ids) if d in live
            ]
            pins = local_rows_df(eng.spark, 
                pin_rows, schema="query_id long, doc_id long, score double"
            )
            from pyspark.sql import Window as W

            w = W.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                pins.unionByName(organic)
                .withColumn("rank", F.row_number().over(w))
                .filter((F.col("rank") > from_) & (F.col("rank") <= from_ + k))
                .select("query_id", F.col("rank").cast("int"), "doc_id",
                        "score")
            )
        if kind == "rank_feature":
            # ES standalone rank_feature: matches exactly the docs
            # holding a positive feature value — bounded like a
            # structured query; score = the feature function. Routed
            # as a one-clause rich bool tree (the in-tree clause the
            # bool/should composition uses)
            return eng.bool_topk(
                [(0, {"must": [{"rank_feature": dict(spec)}]})],
                k=k, from_=from_,
            )
        if kind in ("span_first", "span_near", "span_term", "span_or",
                    "span_not", "intervals"):
            # ES span family, the positional subset the phrase kernel
            # expresses exactly: span_term (one term), span_near with
            # in_order=true + slop=0 (consecutive terms ≙ phrase), and
            # span_first wrapping either (occurrence must END at
            # position ≤ end — applied INSIDE the kernel on the packed
            # start-aligned keys, no extra pass). Unordered/sloppy
            # span_near raises — match_phrase slop is the supported
            # proximity form.
            def span_text(sk, ss) -> tuple[str, str]:
                if sk == "span_term":
                    (f, v), = ss.items()
                    v = v["value"] if isinstance(v, dict) else v
                    return f, str(v)
                if sk == "span_near":
                    bad = set(ss) - {"clauses", "in_order", "slop"}
                    if (bad or not ss.get("clauses")
                            or not ss.get("in_order", False)
                            or int(ss.get("slop", 0)) != 0):
                        raise ValueError(
                            "span_near supports in_order=true, slop=0 "
                            "span_term clauses (use match_phrase slop "
                            "for proximity)"
                        )
                    flds, toks = set(), []
                    for c in ss["clauses"]:
                        (ck2, cs2), = c.items()
                        if ck2 != "span_term":
                            raise ValueError(
                                "span_near clauses must be span_term"
                            )
                        f, t = span_text(ck2, cs2)
                        flds.add(f)
                        toks.append(t)
                    if len(flds) != 1:
                        raise ValueError("span_near clauses mix fields")
                    return flds.pop(), " ".join(toks)
                raise ValueError(f"unsupported span kind {sk!r}")

            if kind == "span_or":
                # round 6: union of span alternatives, dis_max scored
                bad = set(spec) - {"clauses"}
                if bad or not spec.get("clauses"):
                    raise ValueError(
                        f"span_or takes clauses, got "
                        f"{sorted(bad) or 'no clauses'}"
                    )
                flds, texts = set(), []
                for c in spec["clauses"]:
                    (ck2, cs2), = c.items()
                    f, t = span_text(ck2, cs2)
                    flds.add(f)
                    texts.append(t)
                if len(flds) != 1:
                    raise ValueError("span_or clauses mix fields")
                return eng.span_or_topk(
                    [(0, texts)], k=k, from_=from_,
                    field=self._resolve_match_field(flds.pop()),
                )
            if kind == "span_not":
                # round 6: include span minus overlapping exclude term
                bad = set(spec) - {"include", "exclude"}
                if bad or not ({"include", "exclude"} <= set(spec)):
                    raise ValueError(
                        f"span_not takes include + exclude, got "
                        f"{sorted(bad) or sorted(spec)}"
                    )
                (ik, is_), = spec["include"].items()
                (ek, es_), = spec["exclude"].items()
                fi, ti = span_text(ik, is_)
                fe, te = span_text(ek, es_)
                if fi != fe:
                    raise ValueError("span_not include/exclude mix fields")
                return eng.span_not_topk(
                    [(0, (ti, te))], k=k, from_=from_,
                    field=self._resolve_match_field(fi),
                )
            if kind == "intervals":
                # round 6: ES intervals `match` rule (ordered=true
                # only) and `any_of` over match rules sharing one
                # ordered gap budget
                (fld2, rule), = spec.items()

                def mrule(r) -> tuple[str, int]:
                    mr = dict(r)
                    bad = set(mr) - {"query", "max_gaps", "ordered"}
                    if bad or "query" not in mr:
                        raise ValueError(
                            f"intervals match takes query (+max_gaps, "
                            f"ordered), got {sorted(bad) or 'no query'}"
                        )
                    if not mr.get("ordered", False):
                        raise ValueError(
                            "intervals ordered=false is not supported — "
                            "use match_phrase slop for unordered "
                            "proximity"
                        )
                    return str(mr["query"]), int(mr.get("max_gaps", 0))

                if isinstance(rule, dict) and set(rule) == {"any_of"}:
                    ao = dict(rule["any_of"])
                    ivs = ao.pop("intervals", None)
                    if ao or not isinstance(ivs, list) or not ivs:
                        raise ValueError(
                            "any_of takes a non-empty intervals list"
                        )
                    parsed2 = []
                    for r in ivs:
                        if not (isinstance(r, dict)
                                and set(r) == {"match"}):
                            raise ValueError(
                                "any_of branches must be match rules"
                            )
                        parsed2.append(mrule(r["match"]))
                    gaps = {g for _t, g in parsed2}
                    if len(gaps) != 1:
                        raise ValueError(
                            "any_of branches must share one max_gaps "
                            "(per-branch budgets are not supported — "
                            "documented restriction)"
                        )
                    return eng.intervals_any_topk(
                        [(0, [t for t, _g in parsed2])],
                        max_gaps=gaps.pop(), k=k, from_=from_,
                        field=self._resolve_match_field(fld2),
                    )
                if not (isinstance(rule, dict) and set(rule) == {"match"}):
                    raise ValueError(
                        "intervals supports the match rule and any_of "
                        "of match rules (all_of/prefix/fuzzy are not "
                        "routed)"
                    )
                text, gaps1 = mrule(rule["match"])
                return eng.intervals_topk(
                    [(0, text)], max_gaps=gaps1, k=k, from_=from_,
                    field=self._resolve_match_field(fld2),
                )
            first = None
            if kind == "span_first":
                bad = set(spec) - {"match", "end"}
                if bad or not ({"match", "end"} <= set(spec)):
                    raise ValueError(
                        f"span_first takes match + end, got "
                        f"{sorted(bad) or sorted(spec)}"
                    )
                first = int(spec["end"])
                (mk, ms), = spec["match"].items()
                fld2, text = span_text(mk, ms)
            else:
                fld2, text = span_text(kind, spec)
            return eng.phrase_topk(
                [(0, text)], k=k, from_=from_,
                field=self._resolve_match_field(fld2), first=first,
            )
        if kind == "match_none":
            # ES match_none: no document matches, ever
            if spec not in ({}, None):
                raise ValueError("match_none takes an empty body")
            from xml_to_es_spark.operators.query_engine import TOPK_SCHEMA

            return local_rows_df(eng.spark, [], schema=TOPK_SCHEMA)
        if kind == "match_all":
            raise ValueError(
                "bare match_all is an unbounded corpus scan; add a filter "
                "(use a structured term/range query) or a match clause"
            )
        raise ValueError(f"unsupported query kind {kind!r}")

    _BOOL_KEYS = {"must", "should", "must_not", "filter",
                  "minimum_should_match", "boost", "_name"}

    def _bool_needs_rich(self, spec: dict) -> bool:
        """True when an ES bool body needs the engine's RICH
        nested-tree path: bool-level minimum_should_match / boost,
        nested bool sub-clauses, per-clause boost/operator options,
        mixed clause fields, structured clauses outside the filter
        role, a multi-token match clause under must or filter (the
        legacy flat translation would silently AND its tokens, where
        ES ORs them), or should clauses beside a filter and no must
        (ES's default minimum_should_match is then 0, where the flat
        translation keeps one should clause required unless a filter
        is text). Flat single-token bodies keep the legacy
        translation, bit-identical to the direct engine call."""
        if ("minimum_should_match" in spec or "boost" in spec
                or "_name" in spec):
            return True
        fields: set = set()
        for role in ("must", "should", "must_not", "filter"):
            cls = spec.get(role, [])
            for cl in (cls if isinstance(cls, list) else [cls]):
                if not (isinstance(cl, dict) and len(cl) == 1):
                    raise ValueError(
                        f"each bool clause must be a single-key dict, got {cl!r}"
                    )
                (ck, cs), = cl.items()
                if ck in ("bool", "match_phrase", "dis_max", "boosting",
                          "constant_score", "rank_feature", "nested"):
                    return True
                if ck in _STRUCTURED:
                    if role != "filter":
                        return True
                    continue
                if ck != "match":
                    raise ValueError(
                        f"bool {role} supports match/match_phrase/bool/"
                        f"structured clauses, got {ck!r}"
                    )
                fld, opts = _field_text(
                    cs, allowed={"operator", "boost", "_name"},
                    extra_keys=frozenset({"boost", "_name"}),
                )
                if "boost" in opts or "operator" in opts or "_name" in opts:
                    return True
                fields.add(self._resolve_match_field(fld))
                if (role in ("must", "filter")
                        and len(self.eng._tokenize(opts["query"])) > 1):
                    return True
        if spec.get("should") and spec.get("filter") and not spec.get("must"):
            return True
        return len(fields) > 1

    def _bool_spec(self, spec: dict) -> tuple[dict, str | None]:
        """ES bool body → (engine clause spec, field) — the legacy
        flat dict plus its single resolved field when the body is
        flat, or the engine's rich nested-tree spec (field carried
        per clause) otherwise."""
        bad = set(spec) - self._BOOL_KEYS
        if bad:
            raise ValueError(f"unsupported bool key(s) {sorted(bad)}")
        if self._bool_needs_rich(spec):
            return self._rich_bool_body(spec), None
        out: dict[str, Any] = {}
        fields: set = set()
        for role in ("must", "should", "must_not"):
            cls = spec.get(role, [])
            cls = cls if isinstance(cls, list) else [cls]
            texts = []
            for cl in cls:
                (_ck, cs), = cl.items()
                fld, opts = _field_text(cs, allowed=set())
                fields.add(self._resolve_match_field(fld))
                texts.append(opts["query"])
            if texts:
                out[role] = " ".join(texts)
        fcls = spec.get("filter", [])
        fcls = fcls if isinstance(fcls, list) else [fcls]
        flist = []
        for cl in fcls:
            (ck, cs), = cl.items()
            if ck == "match":
                fld, opts = _field_text(cs, allowed=set())
                fields.add(self._resolve_match_field(fld))
                flist.append({"match": opts["query"]})
            elif ck in _STRUCTURED:
                flist.append({ck: cs})
            else:
                raise ValueError(f"unsupported filter clause {ck!r}")
        if flist:
            out["filter"] = flist
        return out, (fields.pop() if fields else None)

    def _rich_bool_body(self, spec: dict) -> dict:
        """ES bool body → the engine's rich nested-tree spec: clause
        fields resolved per clause, nested bools recursed, structured
        clauses passed through in any role."""
        bad = set(spec) - self._BOOL_KEYS
        if bad:
            raise ValueError(f"unsupported bool key(s) {sorted(bad)}")
        out: dict[str, Any] = {}
        for key in ("minimum_should_match", "boost", "_name"):
            if key in spec:
                out[key] = spec[key]
        for role in ("must", "should", "must_not", "filter"):
            cls = spec.get(role)
            if cls is None:
                continue
            out[role] = [
                self._rich_clause(cl)
                for cl in (cls if isinstance(cls, list) else [cls])
            ]
        return out

    def _rich_clause(self, cl: dict) -> dict:
        if not (isinstance(cl, dict) and len(cl) == 1):
            raise ValueError(
                f"each bool clause must be a single-key dict, got {cl!r}"
            )
        (ck, cs), = cl.items()
        if ck == "bool":
            return {"bool": self._rich_bool_body(cs)}
        if ck in _STRUCTURED:
            return {ck: cs}
        if ck == "rank_feature":
            # ES body nests the field: {"rank_feature": {"field": f,
            # "saturation": {...}}} — the engine spec is the same dict
            return {ck: dict(cs)}
        if ck == "nested":
            # ES nested query: per-nested-object match scoping over an
            # array-of-struct doc value — the engine spec is the same
            # dict (inner structured kinds share the ES shape; the
            # engine validates path/query/score_mode and rejects
            # analyzed-text inner kinds)
            bad = set(cs) - {"path", "query", "score_mode", "boost",
                             "_name"}
            if bad or not ({"path", "query"} <= set(cs)):
                raise ValueError(
                    f"nested takes path + query (+score_mode, boost, "
                    f"_name), got {sorted(bad) or sorted(cs)}"
                )
            return {ck: dict(cs)}
        if ck == "dis_max":
            bad = set(cs) - {"queries", "tie_breaker", "boost", "_name"}
            if bad or not cs.get("queries"):
                raise ValueError(
                    f"dis_max takes queries (+tie_breaker, boost), got "
                    f"{sorted(bad) or 'no queries'}"
                )
            out: dict[str, Any] = {
                "queries": [self._rich_clause(c) for c in cs["queries"]]
            }
            for key in ("tie_breaker", "boost", "_name"):
                if key in cs:
                    out[key] = cs[key]
            return {"dis_max": out}
        if ck == "constant_score":
            bad = set(cs) - {"filter", "boost", "_name"}
            if bad or "filter" not in cs:
                raise ValueError(
                    f"constant_score takes filter (+boost), got "
                    f"{sorted(bad) or 'no filter'}"
                )
            out = {"filter": self._rich_clause(cs["filter"])}
            for key in ("boost", "_name"):
                if key in cs:
                    out[key] = cs[key]
            return {"constant_score": out}
        if ck == "boosting":
            bad = set(cs) - {"positive", "negative", "negative_boost",
                             "_name"}
            if bad or "positive" not in cs or "negative" not in cs:
                raise ValueError(
                    "boosting takes positive + negative (+negative_boost), "
                    f"got {sorted(bad) or sorted(cs)}"
                )
            out = {
                "positive": self._rich_clause(cs["positive"]),
                "negative": self._rich_clause(cs["negative"]),
            }
            for key in ("negative_boost", "_name"):
                if key in cs:
                    out[key] = cs[key]
            return {"boosting": out}
        if ck == "match_phrase":
            fld, opts = _field_text(
                cs, allowed={"slop", "boost", "_name"},
                extra_keys=frozenset({"boost", "_name"}),
            )
            leaf: dict[str, Any] = {"query": opts["query"]}
            f = self._resolve_match_field(fld)
            if f is not None:
                leaf["field"] = f
            for key in ("slop", "boost", "_name"):
                if key in opts:
                    leaf[key] = opts[key]
            return {"match_phrase": leaf}
        if ck != "match":
            raise ValueError(
                f"bool clauses support match/match_phrase/bool/structured "
                f"kinds, got {ck!r}"
            )
        fld, opts = _field_text(
            cs, allowed={"operator", "boost", "_name"},
            extra_keys=frozenset({"boost", "_name"}),
        )
        leaf: dict[str, Any] = {"query": opts["query"]}
        f = self._resolve_match_field(fld)
        if f is not None:
            leaf["field"] = f
        for key in ("operator", "boost", "_name"):
            if key in opts:
                leaf[key] = opts[key]
        return {"match": leaf}

    # -- aggs ----------------------------------------------------------------

    # value_count is ES's NON-distinct value counter (distinct is
    # cardinality); missing is the ES missing agg as a per-bucket
    # metric (docs whose field is null)
    _METRIC_FNS = {"avg": "avg", "sum": "sum", "min": "min", "max": "max",
                   "cardinality": "cardinality",
                   "value_count": "count", "missing": "missing"}
    _BUCKET_KINDS = ("terms", "histogram", "date_histogram", "range",
                     "filters", "rare_terms", "auto_date_histogram",
                     "multi_terms", "date_range", "adjacency_matrix")

    def _parse_bucket(self, spec: dict) -> tuple[dict, int | None, dict]:
        """One ES bucket-agg spec → (engine bucket spec, size, sub-aggs
        dict). Never mutates the caller's body."""
        spec = dict(spec)
        sub = spec.pop("aggs", {})
        if len(spec) != 1:
            raise ValueError(f"one bucket kind per agg, got {sorted(spec)}")
        (bkind, bspec), = spec.items()
        if bkind not in self._BUCKET_KINDS:
            raise ValueError(f"unsupported agg kind {bkind!r}")
        b = dict(bspec)
        size = b.pop("size", None)
        if bkind == "rare_terms" and size is not None:
            # ES rare_terms has no size parameter (buckets are the
            # max_doc_count anti-top-N, ordered ascending) — the
            # generic doc_count-DESC window would silently keep the
            # most-common "rare" buckets instead.
            raise ValueError("rare_terms does not take size (ES has none)")
        if bkind == "histogram":
            b["interval"] = float(b["interval"])
        if bkind == "multi_terms":
            # ES multi_terms: ONE bucket keyed by a field tuple — the
            # engine's composite group-by list, identical rows
            terms = b.pop("terms", None)
            if b or not isinstance(terms, list) or len(terms) != 2:
                raise ValueError(
                    "multi_terms takes terms: [{field: a}, {field: b}] "
                    "(two sources, +size)"
                )
            return (
                [{"terms": {"field": t["field"]}} for t in terms],
                size, sub,
            )
        return {bkind: b}, size, sub

    def _parse_metrics(self, sub: dict) -> dict:
        metrics = {}
        for alias, mspec in sub.items():
            (mk, ms), = mspec.items()
            if mk in ("stats", "extended_stats"):
                metrics[alias] = (mk, ms["field"])
            elif mk == "percentiles":
                ps = list(ms.get("percents", [50]))
                if len(ps) != 1:
                    raise ValueError(
                        "percentiles: one percent per agg alias supported"
                    )
                metrics[alias] = ("percentile", ms["field"], float(ps[0]))
            elif mk == "percentile_ranks":
                vs = list(ms.get("values", []))
                if len(vs) != 1:
                    raise ValueError(
                        "percentile_ranks: one value per agg alias supported"
                    )
                metrics[alias] = ("percentile_rank", ms["field"],
                                  float(vs[0]))
            elif mk == "weighted_avg":
                bad = set(ms) - {"value", "weight"}
                if bad or not ({"value", "weight"} <= set(ms)):
                    raise ValueError(
                        "weighted_avg takes value + weight field specs"
                    )
                metrics[alias] = ("weighted_avg", ms["value"]["field"],
                                  ms["weight"]["field"])
            elif mk in self._METRIC_FNS:
                metrics[alias] = (self._METRIC_FNS[mk], ms["field"])
            else:
                raise ValueError(f"unsupported metric {mk!r}")
        return metrics

    def _composite(self, spec: dict) -> DataFrame:
        """ES ``composite`` aggregation body::

            {"query": {...}, "aggs": {name: {"composite": {
                "sources": [{name: {"terms"/"histogram"/
                             "date_histogram": {..., "order": ...}}}, ...],
                "size": N, "after": {source_name: value, ...}},
                "aggs": {metric sub-aggs}}}}

        The ES bucket-PAGINATION agg: buckets ordered by key tuple,
        the ``after`` cursor (keyed by source name, as ES returns it)
        filters before the page window. Routed to
        :meth:`QueryEngine.composite_aggs`."""
        spec = dict(spec)
        sub = spec.pop("aggs", {})
        if set(spec) != {"composite"}:
            raise ValueError(
                f"composite beside {sorted(set(spec) - {'composite'})} "
                "is not supported"
            )
        c = dict(spec["composite"])
        bad = set(c) - {"sources", "size", "after"}
        if bad or "sources" not in c:
            raise ValueError(
                f"composite takes sources/size/after, got "
                f"{sorted(bad) or 'no sources'}"
            )
        sources = list(c["sources"])
        after = None
        if "after" in c:
            a = dict(c["after"])
            names = [next(iter(s)) for s in sources]
            if set(a) != set(names):
                raise ValueError(
                    f"after keys {sorted(a)} must equal the source names "
                    f"{names}"
                )
            after = {0: tuple(a[n] for n in names)}
        if "query" not in self.body:
            raise ValueError("composite aggs require a query")
        espec, fld = self._as_bool_tree()
        return self.eng.composite_aggs(
            [(0, espec)], sources, size=int(c.get("size", 10)),
            after=after, metrics=self._parse_metrics(sub), field=fld,
        )

    def _aggs(self) -> DataFrame:
        from xml_to_es_spark.operators.query_engine import (
            PIPELINE_SIBLING_KINDS,
            pipeline_aggs,
        )

        aggs = self.body["aggs"]
        # sibling pipeline aggs (avg/sum/min/max_bucket) stand BESIDE
        # the one bucket agg; their buckets_path is "<parent>><metric>"
        siblings, rest = {}, {}
        for nm, sp in aggs.items():
            if (isinstance(sp, dict) and len(sp) == 1
                    and next(iter(sp)) in PIPELINE_SIBLING_KINDS):
                siblings[nm] = sp
            else:
                rest[nm] = sp
        if len(rest) != 1:
            raise ValueError(
                "one top-level bucket agg supported "
                "(+ sibling pipeline aggs)"
            )
        (pname, spec), = rest.items()
        resolved = {}
        for nm, sp in siblings.items():
            (kind, body), = sp.items()
            body = dict(body or {})
            bad = set(body) - {"buckets_path"}
            p = str(body.get("buckets_path", ""))
            if bad or ">" not in p:
                raise ValueError(
                    f"sibling pipeline {nm!r} takes buckets_path "
                    f"'<bucket-agg>><metric>', got "
                    f"{sorted(bad) or p!r}"
                )
            parent, metric = p.split(">", 1)
            if parent != pname:
                raise ValueError(
                    f"sibling pipeline {nm!r}: buckets_path parent "
                    f"{parent!r} does not name the bucket agg "
                    f"{pname!r}"
                )
            resolved[nm] = {kind: {"buckets_path": metric}}
        # siblings ride the tail's single pipeline_aggs call so the
        # canonical order holds (siblings see the FULL bucket set,
        # before any bucket_sort truncation — the ES semantics); for
        # early-return branches (global/sampler/two-level) they apply
        # here, where no bucket_sort exists to race
        self._sibling_pipes = resolved
        out = self._one_agg(pname, spec)
        if self._sibling_pipes:
            out = pipeline_aggs(out, self._sibling_pipes)
            self._sibling_pipes = None
        return out

    def _one_agg(self, _name: str, spec: dict) -> DataFrame:
        if "composite" in spec:
            return self._composite(spec)
        if "global" in spec or "sampler" in spec:
            # ES context-switching wrappers around ONE inner bucket agg:
            # global runs it over every live doc (ignoring the query —
            # the ES semantics, not a dropped key); sampler over the
            # top-shard_size best-scoring docs of the query
            wrap = "global" if "global" in spec else "sampler"
            w = dict(spec)
            body_w = dict(w.pop(wrap) or {})
            inner = w.pop("aggs", None)
            if w or not (isinstance(inner, dict) and len(inner) == 1):
                raise ValueError(
                    f"{wrap} takes exactly one inner agg under 'aggs'"
                )
            (_n2, ispec), = inner.items()
            gb, size, sub = self._parse_bucket(ispec)
            metrics = self._parse_metrics(sub)
            if wrap == "global":
                if body_w:
                    raise ValueError('global takes an empty body ({})')
                return self.eng.global_aggs(gb, metrics=metrics, size=size)
            bad = set(body_w) - {"shard_size"}
            if bad:
                raise ValueError(
                    f"unsupported sampler option(s) {sorted(bad)}"
                )
            if "query" not in self.body:
                raise ValueError("sampler needs a query to sample from")
            espec, fld = self._as_bool_tree()
            return self.eng.sampler_aggs(
                [(0, espec)], gb, metrics=metrics,
                shard_size=int(body_w.get("shard_size", 100)),
                field=fld, size=size,
            )
        if "significant_terms" in spec:
            st = dict(spec)
            sub = st.pop("aggs", {})
            if sub or set(st) != {"significant_terms"}:
                raise ValueError(
                    "significant_terms stands alone (no sub-aggs, no "
                    "sibling bucket kinds)"
                )
            c = dict(st["significant_terms"])
            bad = set(c) - {"field", "size", "min_doc_count"}
            if bad:
                raise ValueError(
                    f"unsupported significant_terms option(s) {sorted(bad)}"
                )
            if "query" not in self.body:
                raise ValueError(
                    "significant_terms needs a query (the foreground "
                    "match set)"
                )
            espec, qfld = self._as_bool_tree()
            f = c.get("field")
            fld = self._resolve_match_field(f) if f is not None else qfld
            return self.eng.significant_terms(
                [(0, espec)], size=int(c.get("size", 10)),
                min_doc_count=int(c.get("min_doc_count", 3)), field=fld,
            )
        group_by: Any
        gb1, size, sub = self._parse_bucket(spec)
        # one SUB-BUCKET nesting level (e.g. date_histogram → terms):
        # the sub entry whose body is a bucket kind becomes the second
        # composite group key; its own aggs are the metrics
        if len(sub) == 1:
            (_n2, spec2), = sub.items()
            inner = set(spec2) - {"aggs"}
            if inner == {"top_hits"}:
                th = dict(spec2["top_hits"])
                bad = set(th) - {"size"}
                if bad:
                    raise ValueError(
                        f"top_hits supports size only, got {sorted(bad)}"
                    )
                espec, fld = self._as_bool_tree()
                return self.eng.bool_top_hits(
                    [(0, espec)], group_by=gb1,
                    k_hits=int(th.get("size", 3)), size=size, field=fld,
                )
            if inner and next(iter(inner)) in self._BUCKET_KINDS:
                if isinstance(gb1, list):
                    raise ValueError(
                        "multi_terms cannot take a sub-bucket (its key "
                        "tuple already spans two fields)"
                    )
                gb2, size2, sub2 = self._parse_bucket(spec2)
                if size2 is not None:
                    raise ValueError(
                        "size on the sub-bucket is not supported — set it "
                        "on the top bucket (ranks composite buckets)"
                    )
                group_by = [gb1, gb2]
                metrics = self._parse_metrics(sub2)
                return self._route_aggs(group_by, metrics, size)
        group_by = gb1
        from xml_to_es_spark.operators.query_engine import (
            PIPELINE_PARENT_KINDS,
            pipeline_aggs,
        )

        pipes = {
            n: s for n, s in sub.items()
            if isinstance(s, dict) and len(s) == 1
            and next(iter(s)) in PIPELINE_PARENT_KINDS
        }
        metrics = self._parse_metrics(
            {n: s for n, s in sub.items() if n not in pipes}
        )
        out = self._route_aggs(group_by, metrics, size)
        sib = getattr(self, "_sibling_pipes", None) or {}
        if pipes or sib:
            order_col, key_cols = None, []
            if pipes:
                # parent pipelines need the output key column for
                # bucket-key ordering (cumulative_sum/derivative) and
                # the bucket_sort tiebreak
                if isinstance(gb1, list):
                    raise ValueError(
                        "pipeline aggs on multi_terms are not supported"
                    )
                (bk, bs), = gb1.items()
                if bk in ("histogram", "date_histogram"):
                    order_col = f"{bs['field']}_bucket"
                    key_cols = [order_col]
                elif bk == "terms":
                    order_col, key_cols = None, [bs["field"]]
                else:
                    raise ValueError(
                        f"pipeline aggs on {bk!r} buckets are not "
                        "supported (terms/histogram/date_histogram "
                        "parents are)"
                    )
            dup = set(pipes) & set(sib)
            if dup:
                raise ValueError(f"pipeline agg alias collision {sorted(dup)}")
            out = pipeline_aggs(
                out, {**pipes, **sib},
                order_col=order_col, bucket_cols=key_cols,
            )
            self._sibling_pipes = None
        return out

    def _route_aggs(self, group_by, metrics, size) -> DataFrame:
        q = self.body.get("query", {})
        (kind, spec2), = q.items() if q else (("match", None),)
        if spec2 is None:
            raise ValueError("aggs require a query (match, bool, or filter)")
        if kind == "bool":
            # ES filtered aggregations: bool-bounded match set
            espec, bfld = self._bool_spec(spec2)
            return self.eng.bool_aggs(
                [(0, espec)], group_by=group_by,
                metrics=metrics, size=size, field=bfld,
            )
        if kind in _STRUCTURED:
            return self.eng.bool_aggs(
                [(0, {"filter": [{kind: spec2}]})], group_by=group_by,
                metrics=metrics, size=size,
            )
        if kind != "match":
            raise ValueError("aggs support match, bool, or structured queries")
        fld, opts = _field_text(spec2, allowed={"minimum_should_match"})
        return self.eng.search_aggs(
            [(0, opts["query"])], group_by=group_by, metrics=metrics,
            min_match=opts.get("minimum_should_match"),
            field=self._resolve_match_field(fld), size=size,
        )

    def _suggest(self) -> DataFrame:
        """ES suggesters::

            {"suggest": {"<name>": {"text": "...", "term":
                {"field": f, "suggest_mode": m, "max_edits": e,
                 "size": n}}}}
            {"suggest": {"<name>": {"text": "...", "phrase":
                {"field": f, "size": n, "max_errors": E,
                 "confidence": C, "max_edits": e,
                 "candidate_size": c}}}}
            {"suggest": {"<name>": {"prefix": "...", "completion":
                {"field": f, "size": n}}}}

        Suggest-only bodies (no query beside it — ES allows mixing;
        this surface keeps requests single-purpose). ``term`` routes
        to :meth:`QueryEngine.suggest_terms` (one in-plan-capped
        dictionary job); ``phrase`` to
        :meth:`QueryEngine.suggest_phrases` (the bigram StupidBackoff
        did-you-mean — needs ``store_positions=True``); ``completion``
        to :meth:`QueryEngine.suggest_completions` (df-ranked prefix
        completion over the dictionary)."""
        if set(self.body) != {"suggest"}:
            raise ValueError(
                "a suggest body must contain suggest only "
                f"(got {sorted(self.body)})"
            )
        sug = self.body["suggest"]
        if not (isinstance(sug, dict) and len(sug) == 1):
            raise ValueError("suggest takes exactly one named suggester")
        (_name, spec), = sug.items()
        if "completion" in spec:
            # ES completion suggester: {"prefix": p, "completion":
            # {"field": f, "size": N}} — df-ranked prefix completion
            # over the terms dictionary (suggest_completions)
            bad = set(spec) - {"prefix", "completion"}
            if bad or "prefix" not in spec:
                raise ValueError(
                    "completion suggesters take prefix + completion, got "
                    f"{sorted(bad) or sorted(spec)}"
                )
            c = dict(spec["completion"])
            bad = set(c) - {"field", "size", "skip_duplicates"}
            if bad:
                raise ValueError(
                    f"unsupported completion option(s) {sorted(bad)}"
                )
            # the dictionary holds distinct terms, so duplicates never
            # occur; accept skip_duplicates=True as the no-op it is
            return self.eng.suggest_completions(
                [spec["prefix"]],
                field=self._resolve_match_field(c.get("field", "text")),
                size=int(c.get("size", 5)),
            )
        bad = set(spec) - {"text", "term", "phrase"}
        if bad or "text" not in spec or not ({"term", "phrase"} & set(spec)):
            raise ValueError(
                f"suggester needs text + term/phrase, got "
                f"{sorted(bad) or sorted(spec)}"
            )
        if "phrase" in spec:
            if "term" in spec:
                raise ValueError("pick ONE of term / phrase per suggester")
            ph = dict(spec["phrase"])
            bad = set(ph) - {"field", "size", "max_errors", "confidence",
                             "max_edits", "candidate_size"}
            if bad:
                raise ValueError(
                    f"unsupported phrase-suggester option(s) {sorted(bad)}"
                )
            return self.eng.suggest_phrases(
                spec["text"],
                field=self._resolve_match_field(ph.get("field", "text")),
                size=int(ph.get("size", 5)),
                max_edits=int(ph.get("max_edits", 1)),
                candidate_size=int(ph.get("candidate_size", 5)),
                max_errors=float(ph.get("max_errors", 1.0)),
                confidence=float(ph.get("confidence", 1.0)),
            )
        t = dict(spec["term"])
        bad = set(t) - {"field", "suggest_mode", "max_edits", "size"}
        if bad:
            raise ValueError(f"unsupported term-suggester option(s) {sorted(bad)}")
        return self.eng.suggest_terms(
            self.eng._tokenize(spec["text"]),
            field=self._resolve_match_field(t.get("field", "text")),
            max_edits=int(t.get("max_edits", 2)),
            size=int(t.get("size", 5)),
            suggest_mode=t.get("suggest_mode", "missing"),
        )

    def _rescore(self) -> DataFrame:
        """ES ``rescore`` body::

            {"query": {...}, "rescore": {"window_size": N, "query":
                {"rescore_query": {...}, "query_weight": w,
                 "rescore_query_weight": rw}}, "size": k}

        Both legs must be bool-expressible (the usual pattern: cheap
        match first pass, match_phrase rescorer). No other body keys —
        the page comes entirely from the rescored window."""
        bad = set(self.body) - {"query", "rescore", "size"}
        if bad or "query" not in self.body:
            raise ValueError(
                f"rescore bodies take query + rescore + size, got "
                f"{sorted(bad) or 'no query'}"
            )
        r = dict(self.body["rescore"])
        bad = set(r) - {"window_size", "query"}
        if bad or "query" not in r:
            raise ValueError(
                f"rescore takes window_size + query, got "
                f"{sorted(bad) or 'no query'}"
            )
        rq = dict(r["query"])
        bad = set(rq) - {"rescore_query", "query_weight",
                         "rescore_query_weight"}
        if bad or "rescore_query" not in rq:
            raise ValueError(
                f"rescore.query takes rescore_query (+weights), got "
                f"{sorted(bad) or 'no rescore_query'}"
            )
        espec, fld = self._as_bool_tree()
        rspec, rfld = self._as_bool_tree(rq["rescore_query"])
        if fld is not None and rfld is not None and fld != rfld:
            raise ValueError(
                f"rescore legs resolve to different fields "
                f"({fld!r} vs {rfld!r})"
            )
        return self.eng.rescore_topk(
            [(0, espec)], [(0, rspec)], k=self.k,
            window_size=int(r.get("window_size", 50)),
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)),
            field=fld if fld is not None else rfld,
        )

    def _knn(self) -> DataFrame:
        """ES 8 ``knn`` search body over a STORED vector doc value
        (an ``array<float/double>`` column in
        ``IndexConfig(stored_fields=...)`` — this engine's equivalent
        of the dense_vector mapping)::

            {"knn": {"field": col, "query_vector": [...], "k": K,
                     "num_candidates": N, "boost": b,
                     "filter": {structured clause} | [clauses]},
             "query": {...},        # optional hybrid leg
             "size": n}

        Routing: exact brute-force cosine (``cosine_topk`` — the
        correctness baseline) by default; ``num_candidates`` opts into
        the sign-LSH approximate path (``ann_topk_lsh``: bucket-match
        + single-bit multi-probe, exact re-rank; must be ≥ k, the ES
        rule — recall is governed by the deterministic plane model,
        not the numeric value, a documented adaptation of ES's
        per-shard HNSW knob).
        ``filter`` is the ES PRE-filter: structured clauses restrict
        the candidate vectors before ranking. Score = the ES
        dense_vector cosine transform ``(1 + cos)/2 × boost``.
        Hybrid: the optional ``query`` leg runs as its own sized page
        and scores SUM over the union of both pages (the ES 8
        combine), re-ranked to ``size``."""
        from xml_to_es_spark.operators.similarity import (
            cosine_topk,
            projection_matrix,
        )

        bad = set(self.body) - {"knn", "query", "size"}
        if bad:
            raise ValueError(
                f"knn bodies support knn + query + size only, got "
                f"{sorted(bad)}"
            )
        spec = dict(self.body["knn"])
        bad = set(spec) - {"field", "query_vector", "k", "num_candidates",
                           "boost", "filter"}
        if bad or not ({"field", "query_vector", "k"} <= set(spec)):
            raise ValueError(
                f"knn takes field + query_vector + k (+num_candidates, "
                f"boost, filter), got {sorted(bad) or sorted(spec)}"
            )
        fld = str(spec["field"])
        qv = [float(x) for x in spec["query_vector"]]
        kk = int(spec["k"])
        boost = float(spec.get("boost", 1.0))
        if not qv or kk < 1:
            raise ValueError("knn needs a non-empty query_vector and k ≥ 1")
        filters = spec.get("filter")
        if isinstance(filters, dict):
            filters = [filters]
        fcols = sorted({self.eng._clause_col(c) for c in (filters or [])})
        dv = self.eng._doc_values([fld] + fcols).filter(
            F.col(fld).isNotNull()
        )
        # dimension check: one cheap single-row probe — a mismatched
        # query_vector would otherwise silently match nothing
        probe = dv.select(F.size(fld).alias("d")).limit(1).collect()
        if probe and probe[0]["d"] != len(qv):
            raise ValueError(
                f"query_vector has {len(qv)} dims but stored {fld!r} "
                f"vectors have {probe[0]['d']}"
            )
        for c in (filters or []):
            dv = dv.filter(F.expr(self.eng._structured_pred_sql(c)))
        qdf = local_rows_df(self.eng.spark, 
            [(0, qv)], schema="query_id long, q_vec array<double>"
        )
        nc = spec.get("num_candidates")
        if nc is not None:
            from xml_to_es_spark.operators.similarity import ann_topk_lsh

            nc = int(nc)
            if nc < kk:
                raise ValueError("num_candidates must be ≥ k (the ES rule)")
            planes = projection_matrix(len(qv), n_planes=8)
            knn = ann_topk_lsh(
                dv, qdf, planes, k=min(kk, nc),
                key_col="doc_id", vec_col=fld,
            )
        else:
            knn = cosine_topk(dv, qdf, k=kk, key_col="doc_id", vec_col=fld)
        # no second rounding: cosine is already 6dp (the similarity
        # operators' contract), and (1+c)/2 of a 6dp value lands on
        # exact 7th-decimal halves — re-rounding would flip on the
        # half-way artifact, not on real precision
        knn = knn.select(
            "query_id", "doc_id",
            ((F.lit(1.0) + F.col("cosine")) / F.lit(2.0)
             * F.lit(boost)).alias("score"),
        )
        if "query" in self.body:
            organic = EsRequest(
                self.eng,
                {"query": self.body["query"], "size": self.k},
            ).run().select("query_id", "doc_id", "score")
            knn = (
                knn.withColumnRenamed("score", "_ks")
                .join(organic.withColumnRenamed("score", "_os"),
                      ["query_id", "doc_id"], "full_outer")
                .select(
                    "query_id", "doc_id",
                    (F.coalesce(F.col("_ks"), F.lit(0.0))
                     + F.coalesce(F.col("_os"), F.lit(0.0))).alias("score"),
                )
            )
        from pyspark.sql import Window as W

        w = W.partitionBy("query_id").orderBy(F.desc("score"),
                                              F.asc("doc_id"))
        return (
            knn.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", F.col("rank").cast("int"), "doc_id",
                    "score")
        )

    def run(self) -> DataFrame:
        if "suggest" in self.body:
            return self._suggest()
        if "knn" in self.body:
            return self._knn()
        if "rescore" in self.body:
            return self._rescore()
        if "aggs" in self.body and "size" not in self.body:
            return self._aggs()
        hits = self._hits()
        if self.body.get("min_score") is not None:
            # ES min_score: docs scoring below the cutoff are excluded.
            # Scores are rank-monotone, so the excluded docs form a
            # SUFFIX of the ranking — filtering the returned page is
            # exactly the window of the filtered ranking at any
            # from_/cursor depth (the page truncates at the cutoff).
            bad = {"sort", "track_total_hits"} & set(self.body)
            if bad:
                raise ValueError(
                    f"min_score beside {sorted(bad)} is not supported — "
                    "sort pages carry no score and totals would not "
                    "reflect the cutoff"
                )
            hits = hits.filter(
                F.col("score") >= float(self.body["min_score"])
            )
        if self.body.get("_source") is not None:
            # ES _source filtering: in this engine the docs table IS
            # the source store, so a _source column list is the same
            # pushed-id fetch as docvalue_fields (documented synonym);
            # _source: false drops nothing extra (hits carry no source
            # columns by default) and true is the ES default no-op
            src = self.body["_source"]
            if isinstance(src, list):
                if self.body.get("docvalue_fields"):
                    raise ValueError(
                        "_source list beside docvalue_fields — pick one "
                        "retrieval list"
                    )
                self.body = {**self.body, "docvalue_fields": src}
            elif not isinstance(src, bool):
                raise ValueError(
                    "_source takes true/false or a column list"
                )
        if self.body.get("docvalue_fields"):
            # ES docvalue_fields retrieval: stored doc-value columns
            # per hit — the page ids (≤ queries×k by construction) are
            # collected and pushed as a literal filter into the docs
            # scan, exactly the fetch pattern; one broadcast join
            dcols = self.body["docvalue_fields"]
            if not (isinstance(dcols, list) and dcols
                    and all(isinstance(c, str) for c in dcols)):
                raise ValueError(
                    "docvalue_fields takes a non-empty list of stored "
                    "column names"
                )
            ids, hits = self._localize_page(hits)
            # a column already on the page (doc_id, or the sort
            # field on the sort path) must not be joined in twice
            add = [c for c in sorted(set(dcols))
                   if c != "doc_id" and c not in hits.columns]
            dv = self.eng._doc_values(
                sorted(set(dcols))
            ).filter(F.col("doc_id").isin(ids))
            hits = hits.join(
                F.broadcast(dv.select("doc_id", *add)), "doc_id", "left"
            ).select(*hits.columns, *add)
        if self.body.get("highlight") is not None:
            hl = self.body["highlight"]
            hopts: dict = {}
            if isinstance(hl, dict):
                body = hl
                if "fields" in hl:
                    if len(hl) != 1 or len(hl["fields"]) != 1:
                        raise ValueError(
                            "highlight: one field entry supported"
                        )
                    (_fname, fopts), = hl["fields"].items()
                    body = dict(fopts or {})
                bad = set(body) - {"fragment_size", "number_of_fragments",
                                   "pre_tags", "post_tags"}
                if bad:
                    raise ValueError(
                        f"unsupported highlight option(s) {sorted(bad)}"
                    )
                hopts = body
            frag_size = int(hopts.get("fragment_size", 80))
            n_frags = int(hopts.get("number_of_fragments", 1))
            tags = None
            if "pre_tags" in hopts or "post_tags" in hopts:
                # ES term marking, opt-in: the default (no tags keys)
                # keeps the historical unmarked windows — a documented
                # deviation from ES's always-<em> default
                def one(v, dflt):
                    if v is None:
                        return dflt
                    if isinstance(v, list):
                        if len(v) != 1:
                            raise ValueError(
                                "one pre_tags/post_tags entry supported"
                            )
                        return str(v[0])
                    return str(v)

                tags = (one(hopts.get("pre_tags"), "<em>"),
                        one(hopts.get("post_tags"), "</em>"))
            ids, hits = self._localize_page(hits)
            docs = self.eng.fetch(ids)
            if "text" not in docs.columns:
                raise ValueError("highlight needs store_source=True")
            from xml_to_es_spark.functions.analysis import (
                mark_terms_col,
                snippet_col,
                snippet_fragments_col,
            )

            terms = self._highlight_terms()
            snip = (
                snippet_fragments_col(
                    "text", terms, fragment_size=frag_size,
                    number_of_fragments=n_frags,
                )
                if n_frags > 1
                else snippet_col("text", terms, frag_size)
            )
            if tags is not None:
                pre, post = tags
                snip = (
                    F.transform(
                        snip, lambda x: mark_terms_col(x, terms, pre, post)
                    )
                    if n_frags > 1
                    else mark_terms_col(snip, terms, pre, post)
                )
            return hits.join(
                F.broadcast(docs.select("doc_id", snip.alias("snippet"))),
                "doc_id",
            )
        return hits


def es_explain(engine: QueryEngine, doc_id: int, body: dict) -> DataFrame:
    """ES ``GET /index/_explain/<id>``: the per-term BM25 breakdown of
    one doc's score for a match query — (query_id 0, doc_id, term,
    df, idf, tf_sat, contrib), Σcontrib = the doc's score on the
    scoring paths bit-for-bit. Body = ``{"query": {"match": ...}}``
    only (the explain API takes a query, nothing else)."""
    extra = set(body) - {"query"}
    if extra:
        raise ValueError(f"_explain takes a query only; remove {sorted(extra)}")
    q = body.get("query")
    if not (isinstance(q, dict) and len(q) == 1):
        raise ValueError("_explain needs exactly one query clause")
    (kind, spec), = q.items()
    if kind != "match":
        raise ValueError(
            "_explain supports match queries (the per-term breakdown is "
            "a term-scoring concept)"
        )
    fld, opts = _field_text(spec)
    return engine.explain_hits(
        [(0, opts["query"])], [int(doc_id)],
        field=fld if engine.fielded else None,
    )


def es_search(engine: QueryEngine, body: dict) -> DataFrame:
    """Run one ES-style search body. Returns the hits DataFrame
    (query_id 0, rank, doc_id, score[, snippet]) or, for an
    aggs-only body, the bucket DataFrame."""
    return EsRequest(engine, dict(body)).run()


def es_validate_query(engine: QueryEngine, body: dict) -> dict:
    """ES ``GET /index/_validate/query?explain``: parse and COMPILE
    the body's query without executing it — ``{"valid": bool,
    "explanation": str}``. A valid bool-expressible query explains as
    its compiled tree spec (the rewritten query, what ES's explain
    shows); other kinds plan lazily and explain by kind. Multi-term
    kinds (fuzzy/wildcard/prefix/query_string atoms) run their
    dictionary rewrite exactly like ES's _validate (capped, postings
    untouched); nothing ranks, nothing collects hit rows."""
    import json as _json

    extra = set(body) - {"query"}
    if extra:
        return {
            "valid": False,
            "explanation":
                f"_validate takes a query only; remove {sorted(extra)}",
        }
    if "query" not in body:
        return {"valid": False, "explanation": "no query clause"}
    try:
        req = EsRequest(engine, {"query": body["query"], "size": 1})
        # full routing = full validation: builds the lazy DataFrame
        # (driver-side compile checks run, incl. the unbounded-scan
        # guards) without ever executing the ranking
        req._hits()
        try:
            espec, fld = req._as_bool_tree()
            expl = _json.dumps(
                {"bool": espec} | ({"field": fld} if fld else {}),
                default=str,
            )
        except ValueError:
            # kinds with no bool form (multi_match, fuzzy, prefix…)
            (kind, _s), = body["query"].items()
            expl = f"{kind} query compiled (planned, not executed)"
        return {"valid": True, "explanation": expl}
    except (ValueError, KeyError, TypeError) as e:
        return {"valid": False, "explanation": str(e)}


def es_alias_search(spark, index_dirs: list[str], body: dict) -> DataFrame:
    """ES index-pattern / alias search: the SAME body runs against
    each index and the pages merge into one global top-k by
    (score desc, index, doc_id). Statistics are PER-INDEX — each
    index scores with its own df/idf/avgdl, exactly ES's default
    cross-index behaviour (and its documented caveat: scores from
    different indexes are not strictly comparable; use one index or
    compare within an index when that matters).

    Correctness of the merge: a doc in the global top-k must be in
    its own index's top-k (merging never raises a doc's rank), so
    unioning per-index k-pages and re-ranking is EXACT — per-index
    result sizes bound the merge input at |indexes|·k rows, nothing
    scans twice. Hits carry an ``index`` column (the ES _index
    field). ``indices_boost`` (``[{index_name: b}, ...]`` or the
    legacy ``{index_name: b}`` object) multiplies each index's scores
    BEFORE the merge — the ES cross-index weighting; unknown index
    names raise (ES silently ignores unmatched patterns; this surface
    names concrete indexes, so a typo is an error, not a no-op). Body
    limits: hits-only first page (size; no
    from/search_after/sort/aggs/collapse/highlight — cross-index
    variants of those need per-index state this deliberately avoids).
    """
    from pathlib import Path

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    if not index_dirs:
        raise ValueError("alias search needs at least one index")
    bad = set(body) - {"query", "size", "indices_boost"}
    if bad:
        raise ValueError(
            f"alias search supports query+size+indices_boost only, "
            f"got {sorted(bad)}"
        )
    k = int(body.get("size", 10))
    names = [Path(d.rstrip("/")).name for d in index_dirs]
    if len(set(names)) != len(names):
        names = [str(d) for d in index_dirs]
    ib = body.get("indices_boost") or {}
    if isinstance(ib, list):
        merged: dict = {}
        for ent in ib:
            if not (isinstance(ent, dict) and len(ent) == 1):
                raise ValueError(
                    "indices_boost entries are single {index: boost} dicts"
                )
            merged.update(ent)
        ib = merged
    unknown = set(ib) - set(names)
    if unknown:
        raise ValueError(
            f"indices_boost names unknown index(es) {sorted(unknown)}; "
            f"this alias covers {names}"
        )
    sub = {kk: v for kk, v in body.items() if kk != "indices_boost"}
    parts = []
    for name, d in zip(names, index_dirs):
        eng = QueryEngine(spark, d)
        page = es_search(eng, dict(sub))
        boost = float(ib.get(name, 1.0))
        score = (SF.col("score") * SF.lit(boost)) if boost != 1.0 \
            else SF.col("score")
        parts.append(
            page.select(
                "query_id", "doc_id", score.alias("score"),
                SF.lit(name).alias("index"),
            )
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    w = W.partitionBy("query_id").orderBy(
        SF.desc("score"), SF.asc("index"), SF.asc("doc_id")
    )
    return (
        out.withColumn("rank", SF.row_number().over(w))
        .filter(SF.col("rank") <= k)
        .select("query_id", "rank", "index", "doc_id", "score")
    )


def es_mget(engine: QueryEngine, body: dict) -> DataFrame:
    """ES ``_mget``: the LIVE stored version of each requested id —
    ``{"ids": [..]}`` or ``{"docs": [{"_id": id}, ...]}``. A ``found``
    column marks each requested id's liveness (ES reports missing
    docs rather than dropping them). The id list is a pushed parquet
    filter on the docs tables; nothing scans."""
    from pyspark.sql import functions as SF

    bad = set(body) - {"ids", "docs"}
    if bad or len(body) != 1:
        raise ValueError("_mget takes ids OR docs")
    if "ids" in body:
        ids = [int(v) for v in body["ids"]]
    else:
        ids = [int(d["_id"]) for d in body["docs"]]
    req = local_rows_df(engine.spark, 
        [(i,) for i in ids], schema="doc_id long"
    )
    got = engine.fetch(ids)
    return req.join(got, "doc_id", "left").withColumn(
        "found", SF.col("text_md5").isNotNull()
    )


def es_bulk(builder, index_dir: str, actions) -> dict:
    """ES ``_bulk``: the action/metadata NDJSON surface —
    ``{"index": {"_id": id}}`` followed by a source line, or
    ``{"delete": {"_id": id}}`` — applied to one index with ES
    last-write-wins-per-id semantics, as ONE
    :meth:`~xml_to_es_spark.operators.index_build.IndexBuilder.upsert`
    (all surviving index actions) plus ONE ``delete_docs`` batch (all
    surviving deletes), each holding the writer lock. ``actions`` is
    the raw NDJSON string or an already-parsed list of dicts
    (action lines inline their source under ``doc`` or as the next
    list element). ``create`` is index-that-must-not-exist — rejected
    if the id is live; ``update`` is not supported (the engine's
    upsert is full-document PUT semantics).

    Scale shape: the batch parses driver-side (a bulk body is a
    bounded request, not a corpus), then both applications are the
    ordinary distributed upsert/delete paths."""
    import json as _json

    if isinstance(actions, str):
        lines = [ln for ln in actions.splitlines() if ln.strip()]
        parsed = [_json.loads(ln) for ln in lines]
    else:
        parsed = list(actions)
    final: dict[int, tuple[str, dict | None]] = {}
    creates: list[int] = []
    i = 0
    while i < len(parsed):
        entry = parsed[i]
        if not (isinstance(entry, dict) and len(entry) == 1):
            raise ValueError(f"bulk line {i}: expected one action key")
        (op, meta), = entry.items()
        if op not in ("index", "create", "delete"):
            raise ValueError(
                f"bulk line {i}: unsupported action {op!r} "
                "(index/create/delete; update is not supported — the "
                "engine's upsert is full-document PUT)"
            )
        if "_id" not in meta:
            raise ValueError(f"bulk line {i}: action needs _id")
        doc_id = int(meta["_id"])
        if op == "delete":
            final[doc_id] = ("delete", None)
            i += 1
            continue
        if "doc" in meta:
            src = dict(meta["doc"])
        else:
            i += 1
            if i >= len(parsed):
                raise ValueError(f"bulk line {i - 1}: {op} needs a source")
            src = dict(parsed[i])
        src["doc_id"] = doc_id
        final[doc_id] = ("index", src)
        if op == "create":
            creates.append(doc_id)
        i += 1

    from xml_to_es_spark.operators.index_build import live_docs

    if creates:
        live = {
            int(r["doc_id"])
            for r in live_docs(builder.spark, index_dir)
            .select("doc_id")
            .join(
                local_rows_df(builder.spark, 
                    [(int(d),) for d in creates], schema="doc_id long"
                ),
                "doc_id",
                "left_semi",
            )
            .collect()
        }
        conflict = [d for d in creates if d in live and final[d][0] == "index"]
        if conflict:
            raise ValueError(
                f"bulk create: id(s) {sorted(conflict)} already exist "
                "(ES 409 version_conflict)"
            )
    import pandas as pd

    docs = [src for op, src in final.values() if op == "index"]
    dels = [d for d, (op, _s) in final.items() if op == "delete"]
    out: dict = {"items": len(parsed), "indexed": 0, "deleted": 0,
                 "not_found": 0}
    if docs:
        res = builder.upsert(
            builder.spark.createDataFrame(pd.DataFrame(docs)), index_dir
        )
        out["indexed"] = int(res.get("n_new", 0)) + int(res.get("n_changed", 0))
        out["unchanged"] = len(docs) - out["indexed"]
    if dels:
        res = builder.delete_docs(dels, index_dir)
        out["deleted"] = int(res["n_deleted"])
        out["not_found"] = int(res["n_not_found"])
    return out


def es_delete_by_query(
    builder, engine: QueryEngine, index_dir: str, body: dict
) -> dict:
    """ES ``_delete_by_query``: every doc matching the body's query is
    killed. The match set (any bool-expressible kind: match / phrase /
    bool trees / simple_query_string / ids / structured) stays a
    DataFrame from the postings scan to the kill log — a query
    matching 10^9 docs never visits the driver; the kill-log append is
    O(matched), no segment rewrite (see
    :meth:`~xml_to_es_spark.operators.index_build.IndexBuilder.delete_docs`,
    which holds the writer lock and re-checks liveness). ``engine``
    must read the SAME ``index_dir``; construct a fresh engine for
    post-delete queries (an engine snapshots the kill set at init)."""
    bad = set(body) - {"query"}
    if bad or "query" not in body:
        raise ValueError(
            "_delete_by_query takes exactly a query, got "
            f"{sorted(body) or 'nothing'}"
        )
    ids = EsRequest(engine, {"query": body["query"]}).match_ids()
    res = builder.delete_docs(ids.select("doc_id"), index_dir)
    return {"deleted": int(res["n_deleted"]), "kill_ord": res["kill_ord"]}


_SCRIPT_ASSIGN = re.compile(r"^\s*ctx\._source\.(\w+)\s*=\s*(.+?)\s*$")


def _script_assignments(script) -> dict:
    """Painless-subset update script → {field: literal value}.
    Supported statements: ``ctx._source.<field> = <literal>`` (JSON /
    Python literals) or ``= params.<name>``, ';'-separated — the
    set-field form that covers the common ES update scripts. Anything
    else raises (nothing silently ignored)."""
    import ast

    if isinstance(script, str):
        script = {"source": script}
    bad = set(script) - {"source", "params", "lang"}
    if bad:
        raise ValueError(f"unsupported script key(s) {sorted(bad)}")
    if script.get("lang", "painless") != "painless":
        raise ValueError("script lang must be painless")
    params = script.get("params", {})
    out: dict = {}
    for stmt in str(script.get("source", "")).split(";"):
        if not stmt.strip():
            continue
        m = _SCRIPT_ASSIGN.match(stmt)
        if not m:
            raise ValueError(
                f"unsupported script statement {stmt.strip()!r}: only "
                "'ctx._source.<field> = <literal | params.name>' "
                "assignments are supported"
            )
        fld, rhs = m.groups()
        if rhs.startswith("params."):
            name = rhs[len("params."):]
            if name not in params:
                raise ValueError(f"script references missing param {name!r}")
            out[fld] = params[name]
        else:
            try:
                out[fld] = ast.literal_eval(rhs)
            except (ValueError, SyntaxError):
                raise ValueError(
                    f"script rhs {rhs!r} is not a literal or params ref"
                ) from None
    if not out:
        raise ValueError("script has no assignments")
    return out


def _live_source_rows(builder, index_dir: str) -> DataFrame:
    """Live doc versions as RE-INDEXABLE input rows (meta columns
    dropped). Partial updates need the stored source — like ES
    requiring ``_source`` enabled for ``_update``."""
    from xml_to_es_spark.operators.index_build import live_docs

    rows = live_docs(builder.spark, index_dir)
    drop = [
        c for c in rows.columns
        if c in ("text_md5", "ord") or c.startswith("doc_len")
    ]
    rows = rows.drop(*drop)
    if "text" not in rows.columns:
        raise ValueError(
            "partial updates need an index built with store_source=True "
            "(the stored text is the re-index input — ES likewise "
            "requires _source for _update)"
        )
    return rows


def es_update(builder, index_dir: str, doc_id: int, body: dict) -> dict:
    """ES ``POST /index/_update/{id}`` with a partial ``doc``: the
    live stored version merges the given top-level fields and is
    re-PUT as one forced upsert (new version supersedes old —
    doc values AND postings stay consistent; unchanged text re-encodes
    to identical postings, so rankings only move where the text
    moved). ``doc_as_upsert: true`` inserts the doc when the id is not
    live (then it must carry the index's required source fields);
    otherwise a missing id raises (ES 404). Unknown fields raise —
    the docs-table schema is fixed at build time."""
    bad = set(body) - {"doc", "doc_as_upsert"}
    if bad:
        raise ValueError(f"unsupported _update key(s) {sorted(bad)}")
    doc = body.get("doc")
    if not (isinstance(doc, dict) and doc):
        raise ValueError("_update needs a non-empty doc object")
    if "doc_id" in doc:
        raise ValueError("doc must not carry doc_id (it is the request id)")
    doc_id = int(doc_id)
    rows = _live_source_rows(builder, index_dir)
    mine = rows.filter(F.col("doc_id") == doc_id)
    found = bool(mine.limit(1).count())
    if not found:
        if not body.get("doc_as_upsert"):
            raise ValueError(
                f"doc {doc_id} not found (ES 404); pass doc_as_upsert "
                "to insert it"
            )
        if "text" not in doc:
            raise ValueError("doc_as_upsert insert needs a text field")
        import pandas as pd

        res = builder.upsert(
            builder.spark.createDataFrame(
                pd.DataFrame([{"doc_id": doc_id, **doc}])
            ),
            index_dir,
        )
        return {"result": "created", **res}
    unknown = sorted(set(doc) - set(rows.columns))
    if unknown:
        raise ValueError(
            f"field(s) {unknown} not in the docs-table schema "
            f"{sorted(c for c in rows.columns if c != 'doc_id')}"
        )
    for fld, val in doc.items():
        mine = mine.withColumn(fld, F.lit(val))
    res = builder.upsert(mine, index_dir, force_reindex=True)
    return {"result": "updated", **res}


def es_update_by_query(
    builder, engine: QueryEngine, index_dir: str, body: dict
) -> dict:
    """ES ``_update_by_query`` with a set-field script: docs matching
    the body's query get the script's ``ctx._source.<field> =
    <literal>`` assignments applied and are re-PUT. Fully
    distributed: match-set ids semi-join the live stored rows
    (nothing collected), the assignments are JVM literal columns, and
    ONE forced upsert re-indexes the affected docs — at 10^12-doc
    scale the cost is proportional to the match set, not the corpus.
    ``engine`` must read the same ``index_dir``; use a fresh engine
    afterwards."""
    bad = set(body) - {"query", "script"}
    if bad or "query" not in body or "script" not in body:
        raise ValueError(
            "_update_by_query takes exactly query + script, got "
            f"{sorted(body) or 'nothing'}"
        )
    assigns = _script_assignments(body["script"])
    rows = _live_source_rows(builder, index_dir)
    unknown = sorted(
        (set(assigns) - set(rows.columns)) | ({"doc_id"} & set(assigns))
    )
    if unknown:
        raise ValueError(
            f"script assigns field(s) {unknown} not in the docs-table "
            f"schema {sorted(c for c in rows.columns if c != 'doc_id')}"
        )
    ids = EsRequest(engine, {"query": body["query"]}).match_ids()
    mine = rows.join(ids.select("doc_id"), "doc_id", "left_semi")
    for fld, val in assigns.items():
        mine = mine.withColumn(fld, F.lit(val))
    res = builder.upsert(mine, index_dir, force_reindex=True)
    return {
        "updated": int(res.get("n_new", 0)) + int(res.get("n_changed", 0)),
        **res,
    }


def es_scroll_hits(engine: QueryEngine, body: dict) -> DataFrame:
    """ES scroll / point-in-time, the Spark way: scroll exists so an
    ES client can page an ENTIRE match set out of a server; here the
    full match set is simply returned as a distributed DataFrame —
    (query_id 0, doc_id, score), no top-k, nothing collected — to be
    joined, aggregated, or written to parquet with ordinary DataFrame
    ops. Any bool-expressible query body. Pair with
    :meth:`QueryEngine.fetch`-style doc-value joins for source
    columns; for interactive cursor paging of a RANKED list, use
    ``search_after`` on the search surface instead."""
    return EsRequest(engine, dict(body)).match_hits()


def es_reindex(
    builder, src_dir: str, dest_dir: str, query: dict | None = None
) -> dict:
    """ES ``_reindex``: the live stored docs of ``src_dir`` —
    optionally bounded by a bool-expressible ``query`` — rebuilt as a
    FRESH stand-alone index at ``dest_dir`` under the SOURCE's stored
    mapping (a reindex cannot silently change analysis; build a new
    index explicitly for that). Requires store_source, like ES
    requiring ``_source`` for reindex.

    Fully distributed: live rows × match-set semi-join × one ordinary
    build — at 10^12 docs the cost is the selected corpus slice, and
    the build is checkpoint-resumable like any other."""
    from xml_to_es_spark.operators.index_build import IndexBuilder

    rows = _live_source_rows(builder, src_dir)
    if query is not None:
        eng = QueryEngine(builder.spark, src_dir)
        ids = EsRequest(eng, {"query": query}).match_ids()
        rows = rows.join(ids.select("doc_id"), "doc_id", "left_semi")
    cfg = builder._resolved_cfg(src_dir)
    res = IndexBuilder(builder.spark, cfg).build(rows, dest_dir)
    return {"mode": "reindex", "dest": dest_dir, **res}


def index_stats(spark, index_dir: str) -> dict:
    """ES ``GET /index/_stats`` (+ ``HEAD /index`` existence): live
    doc count, tombstoned-version count, per-dir (base + deltas) doc
    counts, postings bytes and term counts off the manifests, and the
    stored mapping — all from metadata tables, no postings scan."""
    from pathlib import Path

    from xml_to_es_spark.operators.index_build import (
        IndexBuilder,
        _kills_df,
        index_dirs,
        live_docs,
    )

    base = Path(index_dir)
    if not (base / "stats").exists():
        return {"exists": False}
    dirs = index_dirs(index_dir)
    per_dir = []
    total_bytes = 0
    n_terms = 0
    for o, p in dirs:
        st = spark.read.parquet(f"{p}/stats").first()
        m = (
            spark.read.parquet(f"{p}/_manifest")
            .filter(F.col("stage") == "postings")
            .agg(
                F.sum("bytes").alias("b"),
                F.sum("n_postings").alias("np"),
            )
            .first()
            if (Path(p) / "_manifest").exists()
            else None
        )
        tb = int(m["b"] or 0) if m else 0
        terms = spark.read.parquet(f"{p}/terms").count()
        total_bytes += tb
        n_terms += terms
        per_dir.append({
            "ord": o,
            "n_docs": int(st["n_docs"]),
            "postings_bytes": tb,
            "n_terms": terms,
        })
    kills = _kills_df(spark, index_dir)
    n_killed = int(kills.count()) if kills is not None else 0
    n_live = live_docs(spark, index_dir).count()
    return {
        "exists": True,
        "n_docs_live": int(n_live),
        "n_doc_versions_killed": n_killed,
        "n_dirs": len(dirs),
        "postings_bytes": total_bytes,
        "n_terms_total": n_terms,
        "dirs": per_dir,
        "mapping": IndexBuilder(spark).get_mapping(index_dir),
    }


def es_analyze(body: dict, engine: QueryEngine | None = None) -> list[dict]:
    """ES ``_analyze``: the analysis chain applied to one text,
    returning the ES token-stream shape ``[{token, start_offset,
    end_offset, position}, ...]``. Without ``engine``: the PINNED
    default chain (lowercase → ``[a-z0-9]+`` extraction,
    config.TOKEN_PATTERN — the same regex the Spark build, the
    pure-Python oracle and the DuckDB twins all use). With ``engine``:
    that index's STORED chain (round-6 configurable analyzer —
    stopword removal then minimal_english stemming), so the report
    matches the index bit-for-bit. Offsets index the original match
    span in the lowercased text (a stemmed token keeps its surface
    offsets); positions are indices in the FILTERED stream, matching
    the index's positional sidecar (no ES position-increment gaps —
    documented deviation). Driver-side by design, like ES's own
    _analyze."""
    from xml_to_es_spark.config import TOKEN_PATTERN
    from xml_to_es_spark.pyref import stem_minimal_english

    bad = set(body) - {"text"}
    if bad or "text" not in body:
        raise ValueError(
            f"_analyze takes text only, got {sorted(bad) or 'no text'}"
        )
    text = body["text"]
    if not isinstance(text, str):
        raise ValueError("_analyze text must be one string")
    stops = set(engine.stopwords) if engine is not None else set()
    stemmer = engine.stemmer if engine is not None else None
    out = []
    for m in re.finditer(TOKEN_PATTERN, text.lower()):
        tok = m.group(0)
        if tok in stops:
            continue
        if stemmer == "minimal_english":
            tok = stem_minimal_english(tok)
        out.append({
            "token": tok,
            "start_offset": m.start(),
            "end_offset": m.end(),
            "position": len(out),
        })
    return out


def es_field_caps(engine: QueryEngine) -> dict:
    """ES ``GET /index/_field_caps``: per-field capabilities — the
    analyzed fields (searchable text) plus every stored doc-value
    column with its type mapped to the ES family (long/double/keyword/
    date) and aggregatable=True (doc values back every agg here).
    Schema-only: reads the docs table SCHEMA and the stored mapping,
    runs zero jobs."""
    from xml_to_es_spark.operators.index_build import live_docs

    caps: dict[str, dict] = {}
    for f in engine.fields:
        caps[f] = {"type": "text", "searchable": True,
                   "aggregatable": False}
    type_of = {
        "bigint": "long", "int": "integer", "smallint": "short",
        "double": "double", "float": "float", "string": "keyword",
        "boolean": "boolean", "timestamp": "date", "date": "date",
    }
    lv = live_docs(engine.spark, engine.dir)
    for fld in lv.schema.fields:
        # text_md5/ord/doc_len* are engine bookkeeping (change hash,
        # delta ordinal, BM25 norms) — not user fields, like ES norms
        if (fld.name in ("text_md5", "ord") or fld.name in caps
                or fld.name.startswith("doc_len")):
            continue
        caps[fld.name] = {
            "type": type_of.get(fld.dataType.simpleString(),
                                fld.dataType.simpleString()),
            "searchable": fld.name == "doc_id",  # the ids query
            "aggregatable": True,
        }
    return {"fields": caps}


def es_termvectors(
    engine: QueryEngine, doc_id: int, body: dict | None = None
) -> DataFrame:
    """ES ``GET /index/_termvectors/<id>``: one doc's term vectors —
    ``(doc_id, field, term, term_freq, positions)`` per distinct term
    of each requested field, plus ``doc_freq`` when
    ``term_statistics`` is requested.

    Body: ``{"fields": [...], "term_statistics": bool}`` — fields
    default to every indexed field. Vectors are recomputed from the
    stored ``_source`` with the index's pinned analysis chain (the ES
    realtime=true behaviour; needs ``IndexConfig(store_source=True)``
    like more_like_this by id). Offsets and ttf are not tracked —
    a documented deviation (positions and df are).

    Scale shape: one pushed-id-filter read of ONE doc row + (with
    term_statistics) one term-pruned dictionary job over that doc's
    distinct terms — never a corpus scan."""
    from collections import Counter


    body = dict(body or {})
    bad = set(body) - {"fields", "term_statistics"}
    if bad:
        raise ValueError(f"unsupported _termvectors key(s) {sorted(bad)}")
    fields = body.get("fields", list(engine.fields))
    if not (isinstance(fields, list) and fields
            and all(isinstance(f, str) for f in fields)):
        raise ValueError("fields takes a non-empty list of field names")
    for f in fields:
        engine._resolve_field(f if engine.fielded else None)
    rows = engine.fetch([int(doc_id)]).collect()
    if not rows:
        raise ValueError(f"doc {doc_id} not found")
    (doc,) = rows
    missing = [f for f in fields if f not in doc.asDict()]
    if missing:
        raise ValueError(
            f"field(s) {missing} are not in the stored _source — build "
            "with IndexConfig(store_source=True)"
        )
    want_stats = bool(body.get("term_statistics", False))
    out = []
    for f in fields:
        toks = engine._tokenize(doc[f] or "")
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        tf = Counter(toks)
        for t in sorted(tf):
            out.append((int(doc_id), f, t, int(tf[t]), pos[t]))
    schema = ("doc_id long, field string, term string, term_freq long, "
              "positions array<long>")
    if not want_stats:
        return local_rows_df(engine.spark, out, schema=schema)
    keys = {
        (f, t): engine._term_of(t, f if engine.fielded else None)
        for _d, f, t, _c, _p in out
    }
    meta = engine._term_meta(sorted(set(keys.values())))
    out = [
        r + (int(meta.get(keys[(r[1], r[2])], {}).get("df", 0)),)
        for r in out
    ]
    return local_rows_df(engine.spark, 
        out, schema=schema + ", doc_freq long"
    )


def es_suggest(engine: QueryEngine, body: dict) -> DataFrame:
    """ES ``_search`` suggest-only body → term-suggester DataFrame
    (token, rank, suggestion, distance, df). See
    :meth:`EsRequest._suggest` / :meth:`QueryEngine.suggest_terms`."""
    return EsRequest(engine, dict(body)).run()


def es_count(engine: QueryEngine, body: dict) -> DataFrame:
    """ES ``_count``: the number of matching docs for a query body —
    {"query": {...}} only (no paging keys). One scan + one count agg,
    nothing paged; zero-hit queries return total 0. Returns a
    (query_id 0, total) DataFrame."""
    return EsRequest(engine, dict(body)).count()


def es_msearch(engine: QueryEngine, bodies: list[dict]) -> DataFrame:
    """ES _msearch: several bodies of the SAME shape batched into one
    engine call (the engine's native multi-query form — one plan, one
    scan for the whole batch). All bodies must share query kind,
    size/from, and options; they may differ in query text."""
    if not bodies:
        raise ValueError("empty msearch")
    for i, b in enumerate(bodies):
        bad = set(b) - {"query", "size"}
        if bad:
            # EsRequest's strict key check is bypassed here, so
            # enforce the batched subset explicitly — a paged msearch
            # must not silently re-serve page 1
            raise ValueError(
                f"msearch body {i}: unsupported key(s) {sorted(bad)} — "
                "batched msearch supports query and size only; use "
                "es_search for from/search_after/sort/aggs/highlight"
            )
    kinds = {next(iter(b.get("query", {}))) for b in bodies}
    if len(kinds) != 1:
        raise ValueError("msearch bodies must share one query kind")
    (kind,) = kinds
    if kind not in ("match", "simple_query_string"):
        raise ValueError("msearch batches match / simple_query_string queries")
    k = {int(b.get("size", 10)) for b in bodies}
    if len(k) != 1:
        raise ValueError("msearch bodies must share size")
    if kind == "simple_query_string":
        # each body parses to a bool tree; the whole batch runs as ONE
        # bool_topk call — one postings scan + one clause hash-agg
        # (plus one positional pass per field when phrases appear),
        # instead of one job per body
        trees = []
        flds = set()
        for i, b in enumerate(bodies):
            (_, spec), = b["query"].items()
            opts = dict(spec) if isinstance(spec, dict) else {"query": spec}
            bad = set(opts) - {"query", "fields"}
            if bad:
                raise ValueError(
                    f"msearch body {i}: unsupported simple_query_string "
                    f"option(s) {sorted(bad)}"
                )
            bf = list(opts.get("fields", []))
            if len(bf) > 1:
                raise ValueError("simple_query_string: one field supported")
            flds.add(bf[0] if bf else None)
            trees.append((i, _parse_simple_query(opts["query"])))
        if len(flds) != 1:
            raise ValueError("msearch bodies must share the fields option")
        (fld,) = flds
        f = fld if (fld and engine.fielded) else None
        return engine.bool_topk(trees, k=k.pop(), field=f)
    queries = []
    fields = set()
    for i, b in enumerate(bodies):
        (_, spec), = b["query"].items()
        fld, opts = _field_text(spec, allowed=set())
        fields.add(fld)
        queries.append((i, opts["query"]))
    if len(fields) != 1:
        raise ValueError("msearch bodies must share the match field")
    (fld,) = fields
    f = fld if engine.fielded else None
    return engine.topk_wand(queries, k=k.pop(), field=f)
