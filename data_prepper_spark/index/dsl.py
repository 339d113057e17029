"""OpenSearch JSON query-DSL dispatcher — the ``_search``-body surface.

A user of the reference talks to OpenSearch with JSON search bodies
(the sink's index serves them: opensearch/.../OpenSearchSink.java
passthrough).  ``search_dsl`` accepts that shape — ``{"query": {...},
"size": k}`` — and routes each query type to the engine function that
already serves it, so the JSON surface inherits every oracle-pinned
semantic with ZERO new scoring code:

    match / term            → boolquery.search_bool
    bool (+ msm, boosts)    → boolquery.search_bool
    bool + filter context   → filtered.search_filtered (pure-should
                              scoring part; docvalue filter clauses)
    bool.should rank_feature / distance_feature (the documented
    additive shapes)        → filtered.search_rank_feature /
                              search_distance_feature
    match_phrase (+ slop)   → phrase.phrase_topk
    intervals               → phrase.intervals_topk
    fuzzy (+ transpositions)→ boolquery.search_fuzzy
    prefix / wildcard /
    regexp                  → boolquery.search_*
    ids                     → filtered.search_ids
    constant_score          → filtered.search_constant_score
    function_score          → filtered.search_function_score
    script_score            → filtered.search_script_score
    more_like_this          → boolquery.search_more_like_this
    has_child (+score_mode) → filtered.search_has_child{_scored}
    match_all               → docmeta scan, doc_id ASC at score 1.0

Unsupported combinations raise ``ValueError`` with the offending key —
never a silent approximation.  The dispatcher is intentionally
schema-light: the text field name is whatever the caller indexed (the
field key in ``match``/``term`` bodies is accepted and ignored for
routing, matching the single-body-field index layout); join-field
queries take an explicit ``parent_field`` (the engine's docvalue
convention) where OpenSearch would read the join mapping.
"""

from __future__ import annotations

__all__ = ["search_dsl"]

_FILTER_OPS = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}


def _field_body(node: dict):
    """``{field: value-or-options}`` → (field, options-dict)."""
    if len(node) != 1:
        raise ValueError(f"query node takes one field, got {sorted(node)}")
    field, opts = next(iter(node.items()))
    if not isinstance(opts, dict):
        key = "query"
        opts = {key: opts}
    return field, opts


def _match_tokens(searcher, node: dict):
    """match/term node → (tokens, operator, boost)."""
    from ..textproc import tokenize

    _, opts = _field_body(node)
    text = opts.get("query", opts.get("value"))
    if text is None:
        raise ValueError("match/term needs query/value")
    toks = list(dict.fromkeys(tokenize(str(text))))
    return toks, opts.get("operator", "or"), float(opts.get("boost", 1.0))


def _filter_triples(nodes) -> list[tuple]:
    """filter-context clauses → engine filter triples."""
    out: list[tuple] = []
    for n in nodes if isinstance(nodes, list) else [nodes]:
        if len(n) != 1:
            raise ValueError(f"filter node takes one key, got {sorted(n)}")
        kind, body = next(iter(n.items()))
        if kind == "term":
            col, opts = _field_body(body)
            out.append((col, "==", opts.get("value", opts.get("query"))))
        elif kind == "terms":
            col, vals = next(iter(body.items()))
            out.append((col, "in", list(vals)))
        elif kind == "range":
            col, opts = _field_body(body)
            for k, op in _FILTER_OPS.items():
                if k in opts:
                    out.append((col, op, opts[k]))
        elif kind == "exists":
            out.append((body["field"], "exists", None))
        else:
            raise ValueError(f"unsupported filter clause {kind!r}")
    return out


def _clause_tokens(searcher, clauses, boosts: dict):
    toks: list[str] = []
    for c in clauses if isinstance(clauses, list) else [clauses]:
        if len(c) != 1:
            raise ValueError(f"bool clause takes one key, got {sorted(c)}")
        kind, body = next(iter(c.items()))
        if kind not in ("match", "term"):
            raise ValueError(
                f"unsupported bool sub-clause {kind!r} (match/term only)")
        ts, _op, boost = _match_tokens(searcher, body)
        for t in ts:
            if t not in toks:
                toks.append(t)
            if boost != 1.0:
                boosts[t] = boost
    return toks


def _check_operators(body, msm: int) -> None:
    """search_bool takes single terms, so each multi-token match clause
    is flattened into its tokens.  Raise where that changes the clause's
    meaning: must with ``or``, should with ``and`` (or any multi-token
    should under minimum_should_match > 1, which counts clauses, not
    tokens), must_not with ``and``.  Term clauses have no operator and
    keep their flattening."""
    # the operator under which a clause equals its tokens one by one
    for occur, exact in (("must", "and"), ("should", "or"), ("must_not", "or")):
        clauses = body.get(occur, [])
        for c in clauses if isinstance(clauses, list) else [clauses]:
            kind, node = next(iter(c.items()))
            if kind != "match":
                continue
            toks, op, _ = _match_tokens(None, node)
            op = str(op).lower()
            if len(toks) > 1 and (op != exact or (occur == "should" and msm > 1)):
                raise ValueError(
                    f"bool {occur} clause {' '.join(toks)!r} with 'operator': "
                    f"{op!r} is not supported"
                    + (" under minimum_should_match > 1" if op == exact else "")
                    + f" (a multi-token {occur} clause needs 'operator': "
                    f"{exact!r}, or one clause per token)"
                )


def _bool_query(searcher, body, k, distributed, tie_round):
    from .boolquery import search_bool
    from .filtered import (
        search_distance_feature,
        search_filtered,
        search_rank_feature,
    )

    should_raw = body.get("should", [])
    should_raw = should_raw if isinstance(should_raw, list) else [should_raw]
    # the documented additive shapes: ONE rank_feature/distance_feature
    # should beside a match must
    feats = [c for c in should_raw
             if set(c) & {"rank_feature", "distance_feature"}]
    if feats:
        if len(feats) != 1 or len(should_raw) != 1 or body.get("filter") \
                or body.get("must_not"):
            raise ValueError(
                "rank_feature/distance_feature supported as the single "
                "should clause beside the must query")
        boosts: dict = {}
        toks = _clause_tokens(searcher, body.get("must", []), boosts)
        qtext = " ".join(toks)
        kind, spec = next(iter(feats[0].items()))
        if kind == "rank_feature":
            shape = {key: v for key, v in spec.items() if key != "field"}
            return search_rank_feature(
                searcher, qtext, spec["field"], shape, k=k,
                distributed=distributed, tie_round=tie_round)
        field = spec["field"]
        return search_distance_feature(
            searcher, qtext, field, spec["origin"], spec["pivot"],
            float(spec.get("boost", 1.0)), k=k,
            distributed=distributed, tie_round=tie_round)
    filters = _filter_triples(body.get("filter", [])) \
        if body.get("filter") else []
    boosts = {}
    must = _clause_tokens(searcher, body.get("must", []), boosts)
    should = _clause_tokens(searcher, should_raw, boosts)
    must_not = _clause_tokens(searcher, body.get("must_not", []), {})
    msm = int(body.get("minimum_should_match", 0))
    if filters:
        if must or must_not or msm:
            raise ValueError(
                "filter context supports a pure-should scoring part "
                "(route must/must_not through search_bool without "
                "filters, or filters with should-only scoring)")
        # search_filtered scores the should text as one unboosted OR
        # match: a clause boost or an AND operator would be dropped
        for c in should_raw:
            _, op, boost = _match_tokens(searcher, next(iter(c.values())))
            if boost != 1.0:
                raise ValueError(
                    "filter context does not support 'boost' on a should "
                    "clause")
            if str(op).lower() == "and":
                raise ValueError(
                    "filter context does not support 'operator': 'and' on "
                    "a should clause")
        return search_filtered(
            searcher, " ".join(should), filters, k=k,
            distributed=distributed, tie_round=tie_round)
    _check_operators(body, msm)
    return search_bool(
        searcher, must=must, should=should, must_not=must_not, k=k,
        distributed=distributed, tie_round=tie_round,
        boosts=boosts or None, minimum_should_match=msm)


def search_dsl(
    searcher, body: dict, distributed: bool = False, tie_round: int = 4,
) -> list[tuple[int, float]]:
    """Execute an OpenSearch-shaped search *body* against a
    BM25Searcher.  Returns the engine's (doc_id, score) top-k — rank
    contract of the routed function.  See module docstring for the
    supported vocabulary; unsupported shapes raise ValueError."""
    if "query" not in body:
        raise ValueError("search body needs a query")
    k = int(body.get("size", 10))
    node = body["query"]
    if len(node) != 1:
        raise ValueError(f"query takes one key, got {sorted(node)}")
    kind, q = next(iter(node.items()))
    if "sort" in body:
        # sort-by-docvalue context (Lucene Sort(SortField)): the match
        # set comes from a match/term (+ optional bool filter) query,
        # ranked by the field — no relevance scoring at all
        from .filtered import search_sorted

        sort = body["sort"]
        sort = sort[0] if isinstance(sort, list) else sort
        field, opts = _field_body(sort)
        asc = str(opts.get("order", "asc")) == "asc"
        if kind in ("match", "term"):
            toks, _op, _b = _match_tokens(searcher, q)
            filters = []
        elif kind == "bool":
            toks = _clause_tokens(
                searcher, q.get("should", q.get("must", [])), {})
            filters = _filter_triples(q.get("filter", [])) \
                if q.get("filter") else []
        else:
            raise ValueError(f"sort supports match/term/bool, got {kind!r}")
        return search_sorted(
            searcher, " ".join(toks), field, k=k, ascending=asc,
            filters=filters, distributed=distributed)
    if kind == "match_all":
        from .filtered import _meta_ids_vals
        from .scoring import _member_sorted

        ids = _meta_ids_vals(searcher, ())[0]
        ids = ids[~_member_sorted(ids, searcher.deleted)][:k]
        return [(int(d), 1.0) for d in ids.tolist()]
    if kind in ("match", "term"):
        from .boolquery import search_bool

        toks, op, boost = _match_tokens(searcher, q)
        boosts = {t: boost for t in toks} if boost != 1.0 else None
        kw = {"must": toks} if op == "and" else {"should": toks}
        return search_bool(searcher, k=k, distributed=distributed,
                           tie_round=tie_round, boosts=boosts, **kw)
    if kind == "bool":
        return _bool_query(searcher, q, k, distributed, tie_round)
    if kind == "match_phrase":
        from .phrase import phrase_topk

        _, opts = _field_body(q)
        return phrase_topk(searcher, str(opts["query"]),
                           slop=int(opts.get("slop", 0)), k=k,
                           tie_round=tie_round, distributed=distributed)
    if kind == "intervals":
        from .phrase import intervals_topk

        _, spec = _field_body(q)
        return intervals_topk(searcher, spec, k=k, tie_round=tie_round,
                              distributed=distributed)
    if kind == "fuzzy":
        from .boolquery import search_fuzzy

        _, opts = _field_body(q)
        return search_fuzzy(
            searcher, str(opts["value"]), k=k,
            max_edits=int(opts.get("fuzziness", 2)),
            prefix_len=int(opts.get("prefix_length", 0)),
            transpositions=bool(opts.get("transpositions", True)),
            distributed=distributed, tie_round=tie_round)
    if kind in ("prefix", "wildcard", "regexp"):
        from . import boolquery as bq

        _, opts = _field_body(q)
        fn = {"prefix": bq.search_prefix, "wildcard": bq.search_wildcard,
              "regexp": bq.search_regexp}[kind]
        return fn(searcher, str(opts.get("value", opts.get("query"))),
                  k=k, distributed=distributed, tie_round=tie_round)
    if kind == "ids":
        from .filtered import search_ids

        return search_ids(searcher, [int(v) for v in q["values"]], k=k)
    if kind == "constant_score":
        from .filtered import search_constant_score

        flt = q["filter"]
        if "match" in flt or "term" in flt:
            toks, _op, _b = _match_tokens(
                searcher, flt.get("match", flt.get("term")))
            filters = []
        elif "bool" in flt:
            b = flt["bool"]
            toks = _clause_tokens(searcher, b.get("must", []), {})
            filters = _filter_triples(b.get("filter", []))
        else:
            raise ValueError("constant_score filter: match/term/bool")
        return search_constant_score(
            searcher, " ".join(toks), filters=filters,
            boost=float(q.get("boost", 1.0)), k=k,
            distributed=distributed)
    if kind == "function_score":
        from .filtered import search_function_score

        inner = q.get("query", {"match_all": {}})
        toks, _op, _b = _match_tokens(searcher, inner["match"]) \
            if "match" in inner else (None, None, None)
        if toks is None:
            raise ValueError("function_score.query: match only")
        if "script_score" in q:
            from .filtered import search_script_score

            return search_script_score(
                searcher, " ".join(toks),
                q["script_score"]["script"]["source"], k=k,
                distributed=distributed, tie_round=tie_round)
        if "field_value_factor" in q:
            p = dict(q["field_value_factor"])
            field = p.pop("field")
            return search_function_score(
                searcher, " ".join(toks), field,
                {"field_value_factor": p}, k=k,
                combine=q.get("boost_mode", "multiply"),
                distributed=distributed, tie_round=tie_round)
        raise ValueError(
            "function_score needs field_value_factor or script_score")
    if kind == "script_score":
        from .filtered import search_script_score

        inner = q["query"]
        toks, _op, _b = _match_tokens(searcher, inner["match"])
        return search_script_score(
            searcher, " ".join(toks), q["script"]["source"], k=k,
            distributed=distributed, tie_round=tie_round)
    if kind == "more_like_this":
        from .boolquery import search_more_like_this

        return search_more_like_this(
            searcher, str(q["like"]), k=k,
            max_query_terms=int(q.get("max_query_terms", 25)),
            min_term_freq=int(q.get("min_term_freq", 1)),
            min_doc_freq=int(q.get("min_doc_freq", 1)),
            distributed=distributed, tie_round=tie_round)
    if kind == "has_child":
        from .filtered import search_has_child, search_has_child_scored

        toks, _op, _b = _match_tokens(searcher, q["query"]["match"])
        mode = q.get("score_mode", "none")
        pf = q["parent_field"]
        if mode == "none":
            return search_has_child(
                searcher, " ".join(toks), pf, k=k,
                min_children=int(q.get("min_children", 1)),
                distributed=distributed)
        return search_has_child_scored(
            searcher, " ".join(toks), pf, k=k, score_mode=mode,
            min_children=int(q.get("min_children", 1)),
            distributed=distributed, tie_round=tie_round)
    raise ValueError(f"unsupported query type {kind!r}")
