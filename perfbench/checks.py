"""Output checks, run outside the timed loop. Each failed check is one
failed operation in the run's ``failed`` count (and so in its error
rate)."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pandas as pd

from perfbench import gen
from perfbench.harness import Ledger

ORACLE_SAMPLE = 2   # /search responses checked against the oracle per run
BM25_SAMPLE = 1     # wand_topk results checked against the exhaustive scorer
REL_TOL = 1e-6


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def ranked_equal(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same scores position by position; ids may differ only where the
    scores tie (a tie may break either way at the last digit)."""
    if len(got) != len(want):
        return False
    want_at = {d: s for d, s in want}
    for (gd, gs), (wd, ws) in zip(got, want):
        if not _close(gs, ws):
            return False
        if gd != wd and not (gd in want_at and _close(want_at[gd], gs)):
            return False
    return True


def _sorted_desc(scores: list[float]) -> bool:
    return all(a >= b or _close(a, b) for a, b in zip(scores, scores[1:]))


def _oracle_shape(req) -> bool:
    """The oracle implements the scoring clauses and the nsfw /
    free_only / claim_type filters, but not sort_by, media_type or the
    quoted-phrase filter."""
    return not (req.sort_by or req.media_type or '"' in req.s)


@contextmanager
def _pretokenized(live: pd.DataFrame):
    """Let the oracle look up the corpus's token lists instead of
    tokenizing every doc text one string at a time, which took seconds
    per query. ``tokenize_text(s)`` is ``tokenize_pandas([s])[0]``, so
    one batch call gives the oracle the same tokens."""
    import tests.oracle_composite as oracle
    from lighthouse_spark.functions.analysis import tokenize_pandas

    texts = pd.unique(pd.concat([live[f] for f in gen.TEXT_FIELDS]).dropna())
    table = dict(zip(texts, tokenize_pandas(pd.Series(texts, dtype=object), "simple")))
    orig = oracle.tokenize_text

    def tokenize_text(text: str, mode: str = "simple") -> list[str]:
        if mode == "simple" and text in table:
            return list(table[text])
        return orig(text, mode)

    oracle.tokenize_text = tokenize_text
    try:
        yield
    finally:
        oracle.tokenize_text = orig


def search_responses(ledger: Ledger, reqs: list, responses: dict, live: pd.DataFrame) -> None:
    """Every response is at most ``size`` long (and sorted by score when
    no sort_by was asked); a fixed sample of /search responses equals
    the pure-Python oracle over the live corpus."""
    from lighthouse_spark.api.request import SearchRequest
    from tests.oracle_composite import composite_search

    bad = []
    for i, out in responses.items():
        req = reqs[i]
        ok = len(out) <= req.size
        if ok and isinstance(req, SearchRequest) and not req.sort_by:
            ok = _sorted_desc([r["score"] for r in out])
        if not ok:
            bad.append(i)
    ledger.check("responses.size_and_order", not bad, f"bad={bad[:5]}")

    sample = [
        i for i in sorted(responses)
        if isinstance(reqs[i], SearchRequest) and _oracle_shape(reqs[i])
    ][:ORACLE_SAMPLE]
    with _pretokenized(live):
        for i in sample:
            req = reqs[i]
            want = composite_search(
                live, s=req.s, now_seconds=gen.NOW_SECONDS, nsfw=req.nsfw,
                free_only=req.free_only, claim_type=req.claim_type,
            )[req.from_:req.from_ + req.size]
            got = [(r["doc_id"], r["score"]) for r in responses[i]]
            ledger.check(f"oracle.search[{req.s!r}]", ranked_equal(got, want),
                         f"got={got[:3]} want={want[:3]}")


def bm25(ledger: Ledger, ci, field: str, queries: list[list[str]], responses: dict) -> None:
    """A sample of warm ``wand_topk`` results equals the exhaustive
    scorer over the same blocks."""
    from lighthouse_spark.operators import wand

    bad = [qi for qi, rows in responses.items()
           if len(rows) > 10 or not _sorted_desc([s for _, s in rows])]
    ledger.check("bm25.size_and_order", not bad, f"bad={bad[:5]}")
    for qi in sorted(responses)[:BM25_SAMPLE]:
        want = [(r["doc_id"], r["score"])
                for r in wand.exhaustive_topk(ci, field, queries[qi], k=10).collect()]
        ledger.check(f"bm25.exhaustive[{queries[qi]}]", ranked_equal(responses[qi], want),
                     f"got={responses[qi][:3]} want={want[:3]}")


def ingest(ledger: Ledger, ci, g) -> None:
    """After the sync cycles and compaction the store's live doc count
    and per-field corpus stats equal a recount of the live corpus."""
    from lighthouse_spark.functions.analysis import tokenize_pandas

    live = g.live_frame()
    n_docs = ci.docs.count()
    ledger.check("ingest.doc_count", n_docs == len(live), f"store={n_docs} live={len(live)}")
    stats = ci.corpus_stats()
    for f in gen.TEXT_FIELDS:
        dl = tokenize_pandas(live[f], "simple").map(len)
        n = int((dl > 0).sum())
        want = (n, float(dl.sum()) / n if n else 1.0)
        got = stats.get(f)
        ok = got is not None and got[0] == want[0] and _close(got[1], want[1])
        ledger.check(f"ingest.corpus_stats[{f}]", ok, f"store={got} recount={want}")
    ledger.check("ingest.compacted", not ci.manifest.get("deltas"),
                 f"deltas={ci.manifest.get('deltas')}")
