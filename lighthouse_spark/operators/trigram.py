"""Character-trigram index: the scale path for substring and regex
search over a 100 TB corpus.

The reference ships its wildcard ``*s*`` contains-clauses disabled
(query.go:39-41, :221-228) because a leading-wildcard query in ES is a
full stored-field scan — there is no index that serves it. The classic
fix is a character-trigram posting list: Google Code Search (R. Cox,
"Regular Expression Matching with a Trigram Index", 2012) and Zoekt
both index every 3-gram of the text and turn a substring/regex query
into a boolean query over trigrams that yields a small candidate set,
then exact-verify only the candidates. This module is that design,
Spark-first:

  build   docs → explode lowercase char 3-grams (one JVM higher-order
          expression, no Python in the loop) → distinct ``(gram, id)``
          postings + a tiny per-gram df stats frame.
  query   a substring of length ≥ 3 must contain ALL of its trigrams,
          and any SUBSET of those grams still gives a sound candidate
          superset — so we intersect only the k RAREST grams (by df)
          and ``contains()``-verify the candidates. Hot grams ("the ",
          "ing") are exactly the ones rarest-k skips, so the scan cost
          is bounded by the tail of the gram-df distribution, not its
          head.
  regex   extract literal runs the pattern REQUIRES (conservative walk
          of the parsed tree — alternations and optional groups
          contribute nothing), prefilter on their grams, verify with
          ``rlike()``. A pattern with no required ≥3-char literal
          honestly full-scan-verifies — the same cost ES pays for
          every such query.

Scale shape: postings are ``(gram, id)`` rows moved only by
groupBy/join — never collected. The only driver-side lookup is the
query's own gram dfs (≤ len(query)−2 rows). Persisted postings are
partitioned by the gram's first byte (≤ ~40 partitions on text), so
the rarest-k IN-list statically prunes partitions at planning time;
within a partition the gram-sorted layout prunes row groups.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from lighthouse_spark.functions import memo

try:  # Python 3.11+: sre_parse moved under re._parser
    from re import _parser as _sre
except ImportError:  # pragma: no cover
    import sre_parse as _sre  # type: ignore[no-redef]

__all__ = [
    "build_trigram_index",
    "query_grams",
    "required_literals",
    "substring_candidates",
    "substring_search",
    "regex_search",
    "save_trigram_index",
    "load_trigram_index",
]


def _lowered(df: DataFrame, text_col: str, lowercase: bool):
    return F.lower(F.col(text_col)) if lowercase else F.col(text_col)


def build_trigram_index(
    docs: DataFrame, id_col: str, text_col: str, lowercase: bool = True
) -> tuple[DataFrame, DataFrame]:
    """``(postings, stats)``: distinct ``(gram, <id_col>)`` rows and the
    per-gram document frequency. All gram extraction is one JVM
    ``transform(sequence(...))`` expression — whole-stage codegen, no
    Python."""
    t = _lowered(docs, text_col, lowercase)
    # length >= 3 guard matters: sequence(1, length-2) with length <= 2
    # would produce a DESCENDING [1, 0] sequence (Spark defaults step
    # to -1) and emit junk sub-3-char/empty/NULL "grams" for every
    # short or null text
    staged = docs.select(F.col(id_col), t.alias("_t")).filter(
        F.length("_t") >= 3
    )
    # r8 (guide §2.4): dedupe grams INSIDE the doc (array_distinct on
    # the gram array) and the exploded (gram, id) rows are unique by
    # construction — the old global .distinct() shuffled one row per
    # gram OCCURRENCE (~|text| rows/doc; at 100 TB that distinct is
    # the build's largest shuffle) where this shuffles nothing and
    # explodes only the per-doc distinct grams.
    postings = staged.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(_t) - 2),"
                    " i -> substring(_t, i, 3))"
                )
            )
        ).alias("gram"),
    ).select("gram", id_col)
    stats = postings.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return postings, stats


def query_grams(s: str, lowercase: bool = True) -> list[str]:
    """The distinct trigrams a text must contain to contain ``s``."""
    if lowercase:
        s = s.lower()
    return sorted({s[i : i + 3] for i in range(len(s) - 2)}) if len(s) >= 3 else []


def _rarest_grams_df(
    stats: DataFrame, grams: list[str], k: int, selective_df: int = 2000
) -> tuple[list[str], int] | None:
    """(chosen grams, min df) — the min df is a FREE upper bound on the
    candidate-set size (every candidate contains every chosen gram),
    which the verify strategy uses without running any probe job."""
    got = _rarest_grams(stats, grams, k, selective_df)
    if got is None:
        return None
    chosen, dfs = got
    return chosen, min(dfs[g] for g in chosen)


def _rarest_grams(
    stats: DataFrame, grams: list[str], k: int, selective_df: int = 2000
):
    """Up to k lowest-df query grams, or None when some gram has df 0 —
    in that case NO document can contain the query and the caller may
    return empty without touching postings. Cost-based (Zoekt-style)
    early stop: once the accumulated candidate bound is already small
    (rarest df ≤ selective_df), further grams only add postings-scan
    and intersection-shuffle cost for no real pruning — a single
    selective gram needs no intersection at all. The collect here is
    bounded by the query's own gram count, never corpus size."""
    pred = F.col("gram").isin(grams)
    if "pfx" in stats.columns:
        # live/persisted layouts carry the partition column: name it so
        # the lookup statically prunes base partitions even when stats
        # is an aggregate view over base+deltas (grouping-key filters
        # push below the union and the aggregate)
        pred = F.col("pfx").isin(sorted({g[:1] for g in grams})) & pred
    rows = stats.filter(pred).collect()
    dfs = {r["gram"]: r["df"] for r in rows}
    if len(dfs) < len(grams):
        return None
    ranked = sorted(grams, key=lambda g: (dfs[g], g))[: max(1, k)]
    chosen = [ranked[0]]
    for g in ranked[1:]:
        if dfs[chosen[-1]] <= selective_df:
            break
        chosen.append(g)
    return chosen, dfs


def _gram_pred(postings: DataFrame, chosen: list[str]):
    """gram IN-list, plus the matching first-byte IN-list on the
    ``pfx`` partition column when the postings are a persisted layout —
    Spark does not infer pfx = substring(gram,1,1), so the partition
    predicate must be spelled out to get static pruning."""
    pred = F.col("gram").isin(chosen)
    if "pfx" in postings.columns:
        pred = F.col("pfx").isin(sorted({g[:1] for g in chosen})) & pred
    return pred


def substring_candidates(
    postings: DataFrame,
    stats: DataFrame,
    id_col: str,
    needle: str,
    k_rarest: int = 3,
    lowercase: bool = True,
) -> DataFrame | None:
    """Sound candidate superset for ``contains(needle)`` via the
    rarest-k gram intersection; None = provably empty. The groupBy is a
    partial-aggregating shuffle on doc id over only the chosen grams'
    postings."""
    got = _candidates_with_bound(postings, stats, id_col, needle, k_rarest, lowercase)
    return None if got is None else got[0]


def _candidates_with_bound(
    postings: DataFrame,
    stats: DataFrame,
    id_col: str,
    needle: str,
    k_rarest: int,
    lowercase: bool,
) -> tuple[DataFrame, int] | None:
    """(candidate frame, stats-derived size bound) — the single
    candidate-pruning sequence substring_candidates and
    substring_search both use (one copy to keep in sync)."""
    grams = query_grams(needle, lowercase)
    if not grams:
        raise ValueError("substring_candidates needs len(needle) >= 3")
    got = _rarest_grams_df(stats, grams, k_rarest)
    if got is None:
        return None
    chosen, bound = got
    return _intersect_grams(postings, id_col, chosen), bound


def _intersect_grams(postings: DataFrame, id_col: str, chosen: list[str]) -> DataFrame:
    """Docs containing ALL chosen grams. One selective gram needs no
    intersection shuffle at all — postings rows are distinct per
    (gram, id), so the slice IS the candidate set."""
    sliced = postings.filter(_gram_pred(postings, chosen))
    if len(chosen) == 1:
        return sliced.select(id_col)
    return (
        sliced.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_g"))
        .filter(F.col("_g") == len(chosen))
        .select(id_col)
    )


# Candidate-id fetch threshold (OPT-IN, default off): when enabled and
# the rarest chosen gram's df — a free upper bound on the candidate
# count, no probe job — is within the cap, candidate ids are collected
# and pushed into the docs scan as a doc-id IN filter. Parquet then
# prunes ROW GROUPS by id min/max stats (big IO skip on an id-sorted/
# bucketed docs layout, as the store's is), where a semi-join would
# still read+parse the whole text column and only save the contains()
# evaluation. This mirrors Zoekt/Code Search: the gram index yields a
# FILE LIST and only those files are read. It is opt-in because the
# extra collect round trip only pays off when the docs bytes are
# DISK-RESIDENT — on a hot/cached corpus the single-job semi-join wins
# (both regimes measured in BASELINE.md round-5). Above the cap, plan
# literals bloat (_ISIN_MAX rationale) — always semi-join.
_FETCH_IDS_MAX = 10_000


def _verified(
    docs: DataFrame,
    id_col: str,
    cands: DataFrame,
    verify,
    fetch_ids_max: int,
    cand_bound: int | None = None,
) -> DataFrame:
    """Exact-verify the candidate superset. With fetch enabled AND the
    stats-derived candidate bound within the cap, collect the ids
    (bounded, no probe job) and push them into the docs scan as an IN
    filter — candidate-driven doc FETCH with row-group pruning;
    otherwise verify via one semi-join (no extra job ever runs for
    large candidate sets)."""
    if fetch_ids_max and cand_bound is not None and cand_bound <= fetch_ids_max:
        ids = sorted(r[0] for r in cands.collect())
        if not ids:
            return docs.filter(F.lit(False))
        return docs.filter(F.col(id_col).isin(ids)).filter(verify)
    return docs.join(cands, on=id_col, how="left_semi").filter(verify)


def substring_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    needle: str,
    index: tuple[DataFrame, DataFrame] | None = None,
    k_rarest: int = 3,
    lowercase: bool = True,
    fetch_ids_max: int = 0,
) -> DataFrame:
    """All doc rows whose text contains ``needle`` (case-folded by
    default). With an index: candidate-pruned scan + exact verify —
    identical results to the full scan, which is the documented
    fallback for short needles / no index. Pass
    ``fetch_ids_max=_FETCH_IDS_MAX`` (opt-in) on a DISK-RESIDENT
    id-sorted docs layout to fetch small candidate sets by id
    (pushed-down IN filter -> row-group pruning) instead of the
    default single-job semi-join — see _FETCH_IDS_MAX for the
    trade-off."""
    verify = _lowered(docs, text_col, lowercase).contains(
        needle.lower() if lowercase else needle
    )
    if index is None or len(needle) < 3:
        return docs.filter(verify)

    def build() -> DataFrame:
        got = _candidates_with_bound(
            index[0], index[1], id_col, needle, k_rarest, lowercase
        )
        if got is None:
            return docs.filter(F.lit(False))
        cands, bound = got
        return _verified(docs, id_col, cands, verify, fetch_ids_max, bound)

    # keyed on the docs and postings frames themselves: a rebuilt or
    # store-refreshed index is new objects, so nothing stale is served
    return memo.get(
        index[1], "substr_plan", docs, index[0], id_col, text_col,
        needle, k_rarest, lowercase, fetch_ids_max, build=build,
    )


def required_literals(
    pattern: str, min_len: int = 3, drop_ignorecase: bool = False
) -> list[str]:
    """Literal runs every match of ``pattern`` must contain.

    Conservative walk of the stdlib-parsed tree: only LITERALs in
    required positions count — top-level concatenation, groups, and
    repeats with min ≥ 1. Alternation branches, optional/starred
    parts, classes, and anchors flush the current run (they may
    contribute chars, but not *required* ones). Sound by construction:
    dropping a literal can only weaken the prefilter, never lose a
    match; the rlike verify keeps exactness.

    With ``drop_ignorecase`` (used against case-SENSITIVE indexes), a
    literal inside any case-insensitive scope is NOT required as-cased
    and is dropped; the flag state is derived from the PARSED tree —
    global ``tree.state.flags`` plus per-SUBPATTERN add/del flags — so
    multi-letter flag groups like ``(?si)`` / scoped ``(?i:...)`` /
    ``(?-i:...)`` are all honored (ADVICE r4: the old literal
    ``"(?i" in pattern`` check missed ``(?si)``)."""
    try:
        tree = _sre.parse(pattern)
    except re.error:
        return []
    runs: list[str] = []

    def walk(seq, ci: bool) -> None:
        run: list[str] = []

        def flush() -> None:
            nonlocal run
            if len(run) >= min_len:
                runs.append("".join(run))
            run = []

        for op, av in seq:
            name = str(op)
            if name == "LITERAL":
                if ci and drop_ignorecase:
                    flush()  # char may match either case: splits the run
                else:
                    run.append(chr(av))
            elif name == "SUBPATTERN":
                flush()
                _grp, add, rem, sub = av
                child_ci = (ci or bool(add & re.IGNORECASE)) and not bool(
                    rem & re.IGNORECASE
                )
                walk(sub, child_ci)
            elif name in ("MAX_REPEAT", "MIN_REPEAT"):
                flush()
                lo, _hi, sub = av
                if lo >= 1:
                    walk(sub, ci)
            else:
                flush()
        flush()

    walk(tree, bool(tree.state.flags & re.IGNORECASE))
    return runs


def regex_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
    index: tuple[DataFrame, DataFrame] | None = None,
    k_rarest: int = 3,
    lowercase: bool = True,
    fetch_ids_max: int = 0,
) -> DataFrame:
    """All doc rows whose text matches ``pattern`` (unanchored
    ``rlike`` semantics, against the case-folded text by default).

    Every required literal's grams must all be present, so the
    prefilter intersects the rarest k grams drawn across ALL required
    literals. No usable literal → honest full verify scan.

    Case soundness: with ``lowercase=True`` (default) literals are
    case-folded by query_grams, so ``(?i)`` patterns prefilter
    correctly against the lowered index. With a case-SENSITIVE index,
    a literal inside ANY case-insensitive scope is not required
    as-cased — required_literals(drop_ignorecase=True) derives the
    scope from the parsed flag state (global flags + SUBPATTERN
    add/del), so ``(?si)`` / ``(?i:...)`` can't evade it; literals in
    case-sensitive scopes still prefilter."""
    verify = _lowered(docs, text_col, lowercase).rlike(pattern)
    lits = [
        l
        for l in required_literals(pattern, drop_ignorecase=not lowercase)
        if len(l) >= 3
    ]
    if index is None or not lits:
        return docs.filter(verify)
    grams = sorted({g for l in lits for g in query_grams(l, lowercase)})
    got = _rarest_grams_df(index[1], grams, k_rarest)
    if got is None:
        return docs.filter(F.lit(False))
    chosen, bound = got
    cands = _intersect_grams(index[0], id_col, chosen)
    return _verified(docs, id_col, cands, verify, fetch_ids_max, bound)


def save_trigram_index(
    postings: DataFrame, path: str, id_col: str = "doc_id"
) -> None:
    """Persist ``{path}/postings`` partitioned by the gram's first byte
    and sorted by gram within each partition — the rarest-k IN-list
    prunes partitions statically AND row groups via min/max stats —
    plus ``{path}/stats``, the ≤ |alphabet|³-row gram-df table the
    query planner's rarest-k lookup reads instead of re-aggregating
    the postings."""
    (
        postings.withColumn("pfx", F.substring("gram", 1, 1))
        .repartition("pfx")
        .sortWithinPartitions("gram", id_col)
        .write.mode("overwrite")
        .partitionBy("pfx")
        # small row groups are the pruning GRANULARITY: hash-by-pfx
        # writes ONE file per pfx partition, so with the default 128 MB
        # block size a selective gram lookup would read the whole
        # partition file — 8 MB groups let the gram min/max stats skip
        # ~94% of a partition's bytes for a rare gram (measured in the
        # r5 disk-resident crossover; footer overhead stays trivial at
        # ~16 groups per 128 MB)
        .option("parquet.block.size", str(8 * 1024 * 1024))
        .parquet(f"{path}/postings")
    )
    # aggregate stats from the JUST-WRITTEN postings, not the input
    # lineage — re-running the corpus scan + gram explode a second
    # time would double the most expensive job in the build
    spark = postings.sparkSession
    (
        spark.read.parquet(f"{path}/postings")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/stats")
    )


def load_trigram_index(spark, path: str, id_col: str = "doc_id"):
    """(postings, stats) handles over a persisted layout; both lazy.
    The ``pfx`` partition column stays on the postings frame so query
    predicates can statically prune partitions (see _gram_pred)."""
    postings = spark.read.parquet(f"{path}/postings").select(
        "gram", id_col, F.col("pfx").cast("string").alias("pfx")
    )
    stats = spark.read.parquet(f"{path}/stats")
    return postings, stats
