"""Inverted-index construction as declarative DataFrame jobs.

What Lucene does inside Elasticsearch for the reference (per-field
postings, norms, df/avgdl statistics — relied on by every match clause,
ref: /root/reference/app/actions/search/query.go:22-71), re-expressed
as four DataFrames:

- ``postings``  (field, term, doc_id, tf, dl[, positions])
- ``term_stats`` (field, term, df)
- ``doc_stats``  (doc_id, field, dl)
- ``corpus``     per-field (n_docs, avgdl) — scalars, broadcast

Design notes for 100 TB scale:

- Tokenization is a single mapInArrow stage that aggregates
  per-doc (term, tf[, positions]) INSIDE the batch — postings explode
  from one array entry per distinct term JVM-side; no token-level
  shuffle exists anywhere in the build.
- ``dl`` (document field length — Lucene's "norm") is DENORMALIZED into
  the posting row at build time. This removes the doc_stats join from
  the query path entirely: scoring needs only the postings rows for the
  query's terms plus a broadcast of per-term df. One shuffle saved per
  query, and the postings scan is the only large input.
- The groupBy keys are (field, term, doc_id) — high cardinality, no
  skew: a stopword term contributes ONE ROW PER DOC, and rows of one
  term hash-spread by doc_id. Skew handling for the *persisted* layout
  (range partitioning by term) lives in sources/store.py.
- Everything before the final agg is map-side partial-aggregatable;
  Catalyst inserts the partial HashAggregate automatically.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lighthouse_spark.functions.analysis import doc_terms_arrow

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class FieldSpec:
    """One searchable field: source column + whether to store positions.

    Positions are needed only for phrase queries (ref match_phrase,
    query.go:136-169); storing them inflates the index ~2-3x, so they
    are opt-in per field (SURVEY.md §7.4 risk 4).
    """

    column: str
    positions: bool = False


@dataclass
class InvertedIndex:
    """Logical index: lazy DataFrames + cached corpus scalars."""

    docs: DataFrame
    postings: DataFrame
    term_stats: DataFrame
    doc_stats: DataFrame
    fields: dict[str, FieldSpec]
    doc_id_col: str
    mode: str
    _corpus: dict[str, tuple[int, float]] | None = dc_field(default=None, repr=False)
    _intermediates: list[DataFrame] = dc_field(default_factory=list, repr=False)

    def unpersist_intermediates(self) -> None:
        for df in self._intermediates:
            df.unpersist()
        self._intermediates = []

    def corpus_stats(self) -> dict[str, tuple[int, float]]:
        """Per-field (n_docs, avgdl). Small action, cached."""
        if self._corpus is None:
            rows = (
                self.doc_stats.groupBy("field")
                .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
                .collect()
            )
            self._corpus = {r["field"]: (int(r["n_docs"]), float(r["avgdl"])) for r in rows}
        return self._corpus

    def cache(self, target_partitions: int | None = None) -> "InvertedIndex":
        """Cache the four frames for serving, COALESCED to ~core count
        first (default: sparkContext.defaultParallelism — cluster-wide
        cores on a real deployment, so the knob is scale-adaptive, not
        a local[32] constant). Rationale (guide §2.2/§6, measured r8):
        the postings lineage inherits the source's partitioning (e.g.
        a 4×cpus-partition corpus), so every warm query stage over the
        cached frames dispatched 128 tiny tasks — ~4 scheduler waves
        of ~2 ms tasks per stage, pure overhead at serving time.
        coalesce (no shuffle) keeps one wave per stage without
        changing any result."""
        n = target_partitions or self.docs.sparkSession.sparkContext.defaultParallelism

        def c(df: DataFrame) -> DataFrame:
            return df.coalesce(n).cache()  # coalesce never increases

        self.postings = c(self.postings)
        self.term_stats = c(self.term_stats)
        self.doc_stats = c(self.doc_stats)
        self.docs = c(self.docs)
        return self

    @property
    def spark(self) -> SparkSession:
        return self.docs.sparkSession


def build_index(
    docs: DataFrame,
    doc_id_col: str,
    fields: dict[str, FieldSpec] | dict[str, str],
    mode: str = "simple",
    cache_agg: bool = False,
) -> InvertedIndex:
    """Build the logical inverted index over ``docs``.

    ``fields`` maps field name -> FieldSpec (or bare source column
    name). ``doc_id_col`` must be unique per document — for the
    source-code corpus it is xxhash64(repo, path, commit) assigned in
    corpus.py, stable across runs and parallelism levels (SURVEY.md
    §7.4 determinism requirement).

    ``cache_agg`` persists the per-doc aggregates (one tokenize pass
    total: postings AND doc_stats both derive from them) and keeps them
    as ``_intermediates``, which the store encodes blocks from.
    """
    specs = {k: (v if isinstance(v, FieldSpec) else FieldSpec(v)) for k, v in fields.items()}
    aggs = _field_aggregates(docs, doc_id_col, specs, mode)
    if cache_agg:
        aggs = [a.persist() for a in aggs]
    return _index_over_aggregates(docs, doc_id_col, specs, mode, aggs, keep=cache_agg)


def _field_aggregates(
    docs: DataFrame, doc_id_col: str, specs: dict[str, FieldSpec], mode: str
) -> list[DataFrame]:
    """One per-doc aggregate frame per field, in ``specs`` order:
    (doc_id, field, dl, terms, tfs[, poss]), one row per doc.

    Shuffle-free: tf/dl (and occurrence positions for positional
    fields) are grouped INSIDE the tokenize task, so no token-level
    explode+groupBy(+collect_list) shuffle exists — at 10^12 docs that
    shuffle moves one row per OCCURRENCE, the largest shuffle in a
    build. The aggregate is a mapInArrow stage with zero per-token
    Python (functions/analysis.doc_terms_arrow, guide §4.2)."""
    id_type = docs.schema[doc_id_col].dataType.simpleString()
    aggs = []
    for name, spec in specs.items():
        tok_schema = f"doc_id {id_type}, dl long, terms array<string>, tfs array<int>"
        if spec.positions:
            tok_schema += ", poss array<array<int>>"
        aggs.append(
            docs.select(
                F.col(doc_id_col).alias("doc_id"), F.col(spec.column).alias("_src")
            )
            .mapInArrow(doc_terms_arrow(mode, spec.positions), tok_schema)
            .select(
                "doc_id", F.lit(name).alias("field"), "dl", "terms", "tfs",
                *(["poss"] if spec.positions else []),
            )
        )
    return aggs


def _index_over_aggregates(
    docs: DataFrame,
    doc_id_col: str,
    specs: dict[str, FieldSpec],
    mode: str,
    aggs: list[DataFrame],
    keep: bool,
) -> InvertedIndex:
    """The logical index as lazy views over per-field aggregates
    (``_field_aggregates`` order). ``keep`` records them as the index's
    ``_intermediates`` — the input the store's block encoder needs."""
    any_positions = any(s.positions for s in specs.values())
    parts: list[DataFrame] = []
    ds_parts: list[DataFrame] = []
    for agg, spec in zip(aggs, specs.values()):
        if spec.positions:
            p = (
                agg.select(
                    "doc_id", "field", "dl",
                    F.explode(F.arrays_zip("terms", "tfs", "poss")).alias("z"),
                )
                .select(
                    "field", F.col("z.terms").alias("term"), "doc_id",
                    F.col("z.tfs").cast("long").alias("tf"), "dl",
                    F.col("z.poss").alias("positions"),
                )
            )
        else:
            p = (
                agg.select(
                    "doc_id", "field", "dl",
                    F.explode(F.arrays_zip("terms", "tfs")).alias("z"),
                )
                .select(
                    "field", F.col("z.terms").alias("term"), "doc_id",
                    F.col("z.tfs").cast("long").alias("tf"), "dl",
                )
            )
            if any_positions:
                p = p.withColumn("positions", F.lit(None).cast("array<int>"))
        parts.append(p)
        # doc_stats straight off the per-doc aggregate: one row per
        # doc pre-explode — no distinct/shuffle over posting rows
        ds_parts.append(
            agg.select("doc_id", "field", "dl").filter(F.col("dl") > 0)
        )

    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)
    doc_stats = ds_parts[0]
    for p in ds_parts[1:]:
        doc_stats = doc_stats.unionByName(p)

    term_stats = postings.groupBy("field", "term").agg(F.count("*").alias("df"))

    return InvertedIndex(
        docs=docs,
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        fields=specs,
        doc_id_col=doc_id_col,
        mode=mode,
        _intermediates=list(aggs) if keep else [],
    )
