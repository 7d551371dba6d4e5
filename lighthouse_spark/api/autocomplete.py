"""/autocomplete — prefix suggestion path.

Mirrors /root/reference/app/actions/auto_complete.go:35-138:

- ``@``-prefixed input → match(name) restricted to channels
  (auto_complete.go:51-56).
- otherwise multi_match phrase_prefix (slop 5, max 50 expansions) on
  name^4 SHOULD-combined with the nested metadata fields title^5 /
  author^3 / description^2 (auto_complete.go:58-70) — we flatten the
  nested `value` fields to top-level title/author/description columns.
- optional nsfw MUST filter (auto_complete.go:73-75).
- project (name, claimId), page, then dedupe names preserving rank
  (auto_complete.go:111-131 dedupes within the returned page).

PINNED SEMANTICS: prefix expansion is alphabetical capped at 50
(Lucene term-dict order); each expansion scores as a (sloppy) phrase /
term match with its own statistics; a doc's clause score is the MAX
over expansions (Lucene MultiPhrase behaves similarly though not
identically); the two SHOULD clauses sum (ES bool).

FUSED PLAN (per field): one dictionary scan fetches the expansions
AND every needed df; one postings scan (term IN head∪expansions)
feeds one per-doc aggregation; the ≤50 expansion scores are a single
greatest() projection over per-expansion columns — never one scored
subplan per expansion (that was 50 scans + 50 broadcasts per query).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lighthouse_spark.api.engine import ClaimsFieldMap
from lighthouse_spark.api.request import AutoCompleteRequest
from lighthouse_spark.functions import memo
from lighthouse_spark.functions.analysis import tokenize_text
from lighthouse_spark.operators import expand, scoring, search
from lighthouse_spark.plans.indexer import InvertedIndex
from lighthouse_spark.session import local_frame

SLOP = 5            # auto_complete.go:63
MAX_EXPANSIONS = 50  # auto_complete.go:64


def _freq_expr(chain_terms: list[str], slop: int):
    """Phrase-occurrence count for one expansion chain, as a pure
    higher-order-function expression over the shared posmap column
    (same semantics as operators/search.phrase)."""
    anchor = F.element_at("posmap", chain_terms[0])
    rest = chain_terms[1:]
    if not rest:
        return F.size(anchor)
    if slop == 0:

        def adjacent(x, _r=tuple(rest)):
            cond = F.lit(True)
            for i, t in enumerate(_r, start=1):
                cond = cond & F.array_contains(F.element_at("posmap", t), x + i)
            return cond

        return F.size(F.filter(anchor, adjacent))

    # NB: HOF lambdas must stay UNARY — a second (even defaulted)
    # parameter makes PySpark bind the (element, index) form.
    def chain(i, prev, _ts=tuple(chain_terms)):
        if i == len(_ts):
            return F.lit(True)
        arr = F.element_at("posmap", _ts[i])
        return F.exists(
            arr, lambda xi: (xi > prev) & (xi <= prev + slop + 1) & chain(i + 1, xi)
        )

    return F.size(F.filter(anchor, lambda x0: chain(1, x0)))


def phrase_prefix(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    boost: float = 1.0,
    slop: int = SLOP,
    max_expansions: int = MAX_EXPANSIONS,
    prefetched: tuple[list[str], dict[str, int]] | None = None,
) -> DataFrame | None:
    """match_phrase_prefix: last term prefix-expanded against the term
    dictionary; per-doc score = max over expansions (Q3), fused into
    one postings scan + one aggregation for all expansions.
    ``prefetched`` = (expansions, df map) from a shared multi-field
    dictionary scan (autocomplete() passes it)."""
    if not terms:
        return None
    *head, last = terms
    if prefetched is not None:
        exps, dfm = prefetched
    else:
        exps, dfm = expand.expand_prefix_with_df(index, field, last, head, max_expansions)
    if not exps:
        return None
    n, avgdl = index.corpus_stats().get(field, (0, 1.0))
    if n == 0:
        return None

    if head and index.fields[field].positions:
        # sloppy-phrase variant: every chain must contain all head
        # terms — bail early if any head term is absent from the field
        if any(dfm.get(t, 0) == 0 for t in head):
            return None
        head_idf = sum(scoring.idf_py(dfm[t], n) for t in head)
        pairs = sorted(set(head) | set(exps))
        p = index.postings.filter(
            (F.col("field") == field) & F.col("term").isin(pairs)
        )
        per_doc = p.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("posmap"),
            F.first("dl").alias("dl"),
        )
        # materialize each expansion's freq once, then one greatest()
        freq_cols = [
            _freq_expr(head + [e], slop).alias(f"_f{i}") for i, e in enumerate(exps)
        ]
        per_doc = per_doc.select("doc_id", "dl", *freq_cols)
        scores = [
            F.when(
                F.col(f"_f{i}") > 0,
                F.lit((head_idf + scoring.idf_py(dfm[e], n)) * boost)
                * scoring.tf_norm_col(F.col(f"_f{i}").cast("double"), F.col("dl"), avgdl),
            )
            for i, e in enumerate(exps)
        ]
        score = F.greatest(*scores) if len(scores) > 1 else scores[0]
        return (
            per_doc.select("doc_id", score.alias("score"))
            .filter(F.col("score").isNotNull())
        )

    # term-match variant (no head, or field without positions):
    # frame_e = BM25 over head+[e]; max over e decomposes into
    # head_sum + max(expansion contribution) — score is linear in qtf,
    # so one (doc, term) scan + one aggregation is exact.
    w_rows = []
    for t, c in Counter(head).items():
        if dfm.get(t):
            w_rows.append((t, scoring.idf_py(dfm[t], n) * c * boost, False))
    for e in exps:
        w_rows.append((e, scoring.idf_py(dfm[e], n) * boost, True))
    if not w_rows:
        return None
    spec = local_frame(index.spark, w_rows, "term string, w double, is_exp boolean")
    p = index.postings.filter(
        (F.col("field") == field) & F.col("term").isin(sorted({r[0] for r in w_rows}))
    ).select("term", "doc_id", "tf", "dl")
    s = p.join(F.broadcast(spec), "term").select(
        "doc_id",
        "is_exp",
        (
            F.col("w")
            * scoring.tf_norm_col(F.col("tf").cast("double"), F.col("dl"), avgdl)
        ).alias("s"),
    )
    agg = s.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(~F.col("is_exp"), F.col("s"))), F.lit(0.0)).alias("_head"),
        F.max(F.when(F.col("is_exp"), F.col("s"))).alias("_exp"),
    )
    return agg.select(
        "doc_id", (F.col("_head") + F.coalesce(F.col("_exp"), F.lit(0.0))).alias("score")
    )


def autocomplete(
    index: InvertedIndex,
    req: AutoCompleteRequest,
    fields: ClaimsFieldMap | None = None,
    round_score: int | None = None,
    prefetched: dict | None = None,
) -> DataFrame:
    """Returns (name, claim_id?, doc_id, score) suggestions.
    ``prefetched`` lets a caller that already ran the bounded
    expand_prefix_with_df_fields scan (autocomplete_over_store) pass
    its {field: (expansions, df_map)} result instead of paying an
    identical second dictionary round trip."""
    fields = fields or ClaimsFieldMap()
    req.validate()
    if prefetched is None:
        # the prefetched-path caller (autocomplete_over_store) memoizes
        # the plan at its own level, on the store
        return memo.get(
            index, "ac_plan", tuple(vars(fields).items()), req.cache_key(),
            round_score,
            build=lambda: _autocomplete_build(index, req, fields, round_score, None),
        )
    return _autocomplete_build(index, req, fields, round_score, prefetched)


def _autocomplete_build(
    index: InvertedIndex,
    req: AutoCompleteRequest,
    fields: ClaimsFieldMap,
    round_score: int | None,
    prefetched: dict | None,
) -> DataFrame:
    docs = index.docs
    id_col = index.doc_id_col
    terms = tokenize_text(req.s, index.mode)

    def has(logical: str) -> bool:
        col = getattr(fields, logical)
        return col is not None and col in docs.columns

    frames: list[DataFrame] = []
    if req.s.startswith("@"):
        # channel-name branch (auto_complete.go:51-56)
        m = search.match_terms(index, fields.name, terms) if terms else None
        if m is not None and has("claim_type"):
            ids = docs.filter(F.col(fields.claim_type) == "channel").select(
                F.col(id_col).alias("doc_id")
            )
            m = m.join(ids, "doc_id", "left_semi")
        if m is not None:
            frames.append(m)
    else:
        # ONE dictionary scan fetches expansions + dfs for every field
        ac_fields = [
            getattr(fields, lg)
            for lg in ("name", "title", "author", "description")
            if has(lg) and (lg == "name" or getattr(fields, lg) in index.fields)
        ]
        if prefetched is not None:
            pre = prefetched
        else:
            pre = (
                expand.expand_prefix_with_df_fields(
                    index, ac_fields, terms[-1], terms[:-1]
                )
                if terms
                else {}
            )
        f_name = (
            phrase_prefix(index, fields.name, terms, boost=4.0,
                          prefetched=pre.get(fields.name))
            if has("name") and terms
            else None
        )
        if f_name is not None:
            frames.append(f_name)
        # nested value fields flattened: title^5, author^3,
        # description^2 (auto_complete.go:65-68)
        nested = []
        for logical, b in (("title", 5.0), ("author", 3.0), ("description", 2.0)):
            if has(logical) and getattr(fields, logical) in index.fields and terms:
                f = phrase_prefix(
                    index, getattr(fields, logical), terms, boost=b,
                    prefetched=pre.get(getattr(fields, logical)),
                )
                if f is not None:
                    nested.append(f)
        if nested:
            u = nested[0]
            for f in nested[1:]:
                u = u.unionByName(f)
            # multi_match best_fields: max across fields
            frames.append(u.groupBy("doc_id").agg(F.max("score").alias("score")))

    if not frames:
        scored = search._empty_scored(index)
    else:
        scored = search.bool_should(frames)

    if req.nsfw is not None and has("nsfw"):
        ids = docs.filter(F.col(fields.nsfw) == bool(req.nsfw)).select(
            F.col(id_col).alias("doc_id")
        )
        scored = scored.join(ids, "doc_id", "left_semi")

    cols = [c for c in (fields.name, fields.claim_id) if c and c in docs.columns]
    page = search.top_k(
        scored, docs, id_col, k=req.size, offset=req.from_, columns=cols,
        round_score=round_score,
    )
    # dedupe names preserving rank order (auto_complete.go:126-129)
    from pyspark.sql import Window

    w = Window.partitionBy(fields.name).orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        page.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def autocomplete_over_store(
    cindex,
    req: AutoCompleteRequest,
    fields: ClaimsFieldMap | None = None,
    round_score: int | None = None,
) -> DataFrame:
    """/autocomplete served DIRECTLY from a persisted CompressedIndex.

    The request's postings needs are bounded and computable up front:
    the query's own tokens plus the ≤50-per-field prefix expansions of
    the last token — fetched with ONE dictionary round trip against
    the store's live term_stats (the same bounded
    expand_prefix_with_df_fields plan the flat path uses). Those
    terms' blocks decode ONCE via flat_view_terms (one job, the
    request's only Python work) and the UNCHANGED autocomplete() runs
    over the view, each per-field scan reading the decoded rows;
    parity with the flat index is pinned by tests. Cost is
    O(heads + 50·fields postings), never corpus-shaped. The memoized
    plan pins the decoded postings (functions/memo)."""
    fmap = fields or ClaimsFieldMap()
    req.validate()
    return memo.get(
        cindex, "ac_over_store", tuple(vars(fmap).items()), req.cache_key(),
        round_score,
        build=lambda: _autocomplete_over_store_build(cindex, req, fmap, round_score),
    )


def _autocomplete_over_store_build(
    cindex,
    req: AutoCompleteRequest,
    fmap: ClaimsFieldMap,
    round_score: int | None,
) -> DataFrame:
    mode = cindex.manifest.get("analyzer_mode", "simple")
    terms = tokenize_text(req.s, mode)
    universe = set(terms)
    indexed = set(cindex.manifest["fields"])
    pre = None
    if terms and not req.s.startswith("@"):
        ac_fields = [
            getattr(fmap, lg)
            for lg in ("name", "title", "author", "description")
            if getattr(fmap, lg) and getattr(fmap, lg) in indexed
        ]
        if ac_fields:
            pre = expand.expand_prefix_with_df_fields(
                cindex, ac_fields, terms[-1], terms[:-1]
            )
            for exps, _dfm in pre.values():
                universe.update(exps)
    view = cindex.flat_view_terms(sorted(universe))
    # the expansion scan above IS autocomplete()'s own prefetch — pass
    # it through so the request pays ONE dictionary round trip
    return autocomplete(view, req, fields=fmap, round_score=round_score, prefetched=pre)
