"""Seeded input generator for the benchmark.

Everything the program receives comes from here, as plain pandas rows
or request objects, and depends only on the workload seed:

- a claims corpus in ``sources.claims.SCHEMA`` (plus the ``doc_id`` key
  and the ``modified_at`` sync cursor) whose ``title``/``description``
  text is drawn from a seeded Zipf vocabulary, so query terms range
  from dense to rare and a new seed gives a new corpus;
- sync batches of about 1% of the corpus: new docs, edits of live
  docs, and Spent/Expired rows that the sync routes to deletes;
- ``/search`` and ``/autocomplete`` request streams in the reference's
  request shapes (multi-term, quoted phrase, ``@channel``, typos, the
  nsfw/claim_type/media_type/free_only filters, paging and sort_by);
- a BM25 query pool over the same vocabulary spanning stopword-dense,
  common, mixed, rare and absent terms.

The generator uses only the program's request dataclasses and its
analyzer (to keep every request's term set distinct), so a change to
the program's other layers cannot change its inputs.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from collections import Counter

import pandas as pd

from lighthouse_spark.api.request import AutoCompleteRequest, SearchRequest

CLAIMS_SCHEMA = (
    "id long, claim_id string, name string, title string, description string,"
    " channel string, channel_claim_id string, claim_type string, bid_state string,"
    " effective_amount long, certificate_amount long, view_cnt long, sub_cnt long,"
    " thumbnail_url string, fee double, nsfw boolean, tags array<string>,"
    " claim_cnt long, release_time long, content_type string,"
    " doc_id long, modified_at long"
)
TEXT_FIELDS = ("name", "title", "description", "channel")

STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "for"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "z", "br", "ch", "cr", "dr", "gr", "pl", "sh", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "x", "ck"]
CONTENT_TYPES = ["video/mp4", "video/webm", "audio/mp3", "text/markdown",
                 "image/png", "application/pdf"]
TAG_POOL = ["science", "music", "gaming", "news", "nsfw", "mature", "art"]
# one cycle of the /search + /autocomplete mix: (shape, request options).
# Between them the positions use every filter, paging and sort_by. Four
# requests, because a cold request costs seconds and a run serves at
# least one whole cycle.
CYCLE = [
    ("channel", {"nsfw": False, "from_": 10}),
    ("ac", {"size": 10, "nsfw": False}),
    ("phrase", {"claim_type": "file", "media_type": "video", "sort_by": "^release_time",
                "size": 20}),
    ("typo", {"free_only": True}),
]
# the cursor value every edited row carries: always >= the checkpoint's
# last_sync_unix, so plan_batch picks the edit up like chainquery does
EDIT_MODIFIED_AT = 1 << 40
_EPOCH_2024 = 1704067200
NOW_SECONDS = 1767225600.0


def rng_for(seed: int, *stream: int) -> random.Random:
    """Independent, reproducible stream per (seed, purpose)."""
    return random.Random(":".join(map(str, (int(seed), *stream))))


def vocabulary(rng: random.Random, n: int, stopwords: list[str]) -> list[str]:
    """``n`` distinct pronounceable words; rank 0 is most frequent. The
    stopwords take the top ranks so stopword-dense text exists."""
    words: list[str] = list(stopwords)
    seen = set(words)
    while len(words) < n:
        k = rng.randrange(2, 5)
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(k)) + \
            rng.choice(_CODAS)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cdf(n: int, s: float = 1.07) -> list[float]:
    p = [1.0 / r ** s for r in range(1, n + 1)]
    total = sum(p)
    return [c / total for c in itertools.accumulate(p)]


class ClaimsGen:
    """Claims corpus + sync batches + request streams for one seed.

    ``live`` is the generator's own copy of the live corpus (doc_id →
    row); sync batches update it, so a checker can recount it."""

    def __init__(self, seed: int, n_docs: int, vocab_size: int = 4000):
        self.seed = seed
        r = rng_for(seed, 0)
        self.vocab = vocabulary(r, vocab_size, STOPWORDS)
        self.cdf = zipf_cdf(vocab_size)
        self.channels = [
            "@" + self.vocab[i].capitalize() + self.vocab[i + 1].capitalize()
            for i in range(40, 80, 2)
        ]
        self._prefix_counts = Counter(str(w)[:3] for w in self.vocab[:2000])
        self.next_id = 1
        self.live: dict[int, dict] = {}
        r = rng_for(seed, 1)
        rows = [self._row(self.next_id + i, r) for i in range(n_docs)]
        self.next_id += n_docs
        for row in rows:
            self.live[row["doc_id"]] = row
        self.base = rows

    def _zipf(self, rng: random.Random, k: int) -> list[str]:
        last = len(self.vocab) - 1
        return [self.vocab[min(bisect.bisect_left(self.cdf, rng.random()), last)]
                for _ in range(k)]

    def _words(self, rng: random.Random, lo: int, hi: int) -> str:
        return " ".join(self._zipf(rng, rng.randrange(lo, hi)))

    def _row(self, i: int, rng: random.Random, claim_id: str | None = None,
             channel_doc: bool | None = None) -> dict:
        claim_id = claim_id or hashlib.sha1(f"claim-{self.seed}-{i}".encode()).hexdigest()
        is_channel = rng.random() < 0.08 if channel_doc is None else channel_doc
        if is_channel:
            name = "@" + self._words(rng, 1, 3).replace(" ", "")
            channel = None
            title = None
        else:
            name = self._words(rng, 1, 4)
            channel = rng.choice(self.channels)
            title = self._words(rng, 2, 9)
        n_tags = rng.randrange(0, 3)
        tags = sorted({rng.choice(TAG_POOL) for _ in range(n_tags)})
        return {
            "id": int(i),
            "claim_id": claim_id,
            "name": name,
            "title": title,
            "description": self._words(rng, 5, 40),
            "channel": channel,
            "channel_claim_id": (
                hashlib.sha1(f"chan-{channel}".encode()).hexdigest() if channel else None
            ),
            "claim_type": "channel" if is_channel else "stream",
            "bid_state": "Controlling" if rng.random() < 0.2 else "Accepted",
            "effective_amount": rng.randrange(0, 10_000_000),
            "certificate_amount": rng.randrange(0, 1_000_000),
            "view_cnt": rng.randrange(0, 100_000) if rng.random() < 0.7 else None,
            "sub_cnt": rng.randrange(0, 10_000) if rng.random() < 0.7 else None,
            "thumbnail_url": f"https://thumbs/{claim_id[:12]}.png" if rng.random() < 0.5 else "",
            "fee": rng.choice((0.0, 0.0, 0.0, 1.5, 10.0)),
            "nsfw": rng.random() < 0.06,
            "tags": tags,
            "claim_cnt": rng.randrange(1, 50),
            "release_time": int(_EPOCH_2024 + rng.randrange(0, 730) * 86400),
            "content_type": (
                None if is_channel else rng.choice(CONTENT_TYPES)
            ),
            "doc_id": int.from_bytes(hashlib.blake2b(claim_id.encode(), digest_size=8).digest(),
                                     "big") >> 1,
            "modified_at": 0,
        }

    # -- sync batches --------------------------------------------------
    def sync_batch(self, cycle: int) -> list[dict]:
        """One chainquery batch (1% of the corpus): 50% new docs, 35%
        edits of live docs, 15% Spent/Expired rows of live docs.
        Applies the batch to ``live``."""
        rng = rng_for(self.seed, 2, cycle)
        b = max(4, len(self.base) // 100)
        n_new, n_edit = b // 2, (b * 35) // 100
        n_dead = b - n_new - n_edit
        touched = rng.sample(sorted(self.live), n_edit + n_dead)
        out = []
        for j in range(n_new):
            out.append(self._row(self.next_id, rng_for(self.seed, 3, cycle, j)))
            self.next_id += 1
        for j, d in enumerate(touched[:n_edit]):
            old = self.live[int(d)]
            row = self._row(old["id"], rng_for(self.seed, 4, cycle, j), old["claim_id"],
                            old["claim_type"] == "channel")
            row["modified_at"] = EDIT_MODIFIED_AT
            out.append(row)
        for j, d in enumerate(touched[n_edit:]):
            row = dict(self.live[int(d)])
            row["bid_state"] = "Spent" if j % 2 == 0 else "Expired"
            row["modified_at"] = EDIT_MODIFIED_AT
            out.append(row)
        for row in out:
            if row["bid_state"] in ("Spent", "Expired"):
                self.live.pop(row["doc_id"], None)
            else:
                self.live[row["doc_id"]] = row
        return out

    def live_frame(self) -> pd.DataFrame:
        return pd.DataFrame(list(self.live.values()))

    # -- request streams ----------------------------------------------
    def _mid_word(self, rng: random.Random, lo: int = 20, hi: int = 1500,
                  min_len: int = 1) -> str:
        while True:
            w = str(self.vocab[rng.randrange(lo, hi)])
            if len(w) >= min_len:
                return w

    def _typo(self, rng: random.Random, w: str) -> str:
        i = rng.randrange(1, len(w) - 1)
        op = rng.randrange(3)
        if op == 0:
            return w[:i] + w[i + 1:]
        if op == 1:
            return w[:i] + w[i + 1] + w[i] + w[i + 2:]
        c = rng.choice("xyzq")
        return w[:i] + c + w[i + 1:]

    def _search_text(self, rng: random.Random, shape: str) -> str:
        if shape == "phrase":  # two adjacent non-stopwords quoted from a title
            while True:
                toks = (rng.choice(self.base)["title"] or "").split()
                pairs = [p for p in zip(toks, toks[1:]) if not set(p) & set(STOPWORDS)]
                if pairs:
                    a, b = rng.choice(pairs)
                    return f'"{a} {b}" {self._mid_word(rng)}'
        if shape == "channel":  # @channel intent, a stopword and a mid-frequency term
            return " ".join([rng.choice(self.channels).lower(), rng.choice(STOPWORDS),
                             self._mid_word(rng)])
        # "typo": a misspelt word that needs fuzzy expansion, plus a correct one
        return self._typo(rng, self._mid_word(rng, min_len=6)) + " " + self._mid_word(rng)

    def _autocomplete_text(self, rng: random.Random) -> str:
        """A 3-letter prefix shared by 4 to 12 of the 2000 most frequent
        words, so every seed's prefixes expand to a similar number of
        dictionary terms (autocomplete cost grows with the expansions).
        A head word before the prefix is left out: its cost swung 1-7 s
        with the seed's choice of word."""
        while True:
            pfx = self._mid_word(rng, 0, 800, min_len=4)[:3]
            if 4 <= self._prefix_counts[pfx] <= 12:
                return pfx

    def request_stream(self, n: int) -> list:
        """``n`` requests, cycling through ``CYCLE``, whose query strings
        AND term sets are all distinct, so neither the result cache nor
        the per-epoch memos can serve one request from another's work.
        Each cycle position has a fixed shape and fixed options, so every
        whole cycle is the same mix; the seed picks only the terms."""
        from lighthouse_spark.functions.analysis import tokenize_text

        rng = rng_for(self.seed, 5)
        seen: set = set()
        out: list = []
        while len(out) < n:
            shape, opts = CYCLE[len(out) % len(CYCLE)]
            if shape == "ac":
                req = AutoCompleteRequest(s=self._autocomplete_text(rng), **opts)
                key = ("ac", tuple(tokenize_text(req.s, "simple")))
            else:
                req = SearchRequest(s=self._search_text(rng, shape), **opts)
                key = ("s", tuple(sorted(set(tokenize_text(req.s, "simple")))))
            if key not in seen:
                seen.add(key)
                out.append(req)
        return out

    def bm25_pool(self, n: int) -> list[list[str]]:
        """``n`` distinct BM25 term lists over the description
        vocabulary, cycling five shapes: stopword-dense, common, mixed,
        rare, and partly absent."""
        rng = rng_for(self.seed, 12)
        V, S = len(self.vocab), len(STOPWORDS)
        seen: set = set()
        out: list[list[str]] = []
        while len(out) < n:
            shape = len(out) % 5
            if shape == 0:
                ts = rng.sample(STOPWORDS, 2) + [self.vocab[rng.randrange(S, 200)]]
            elif shape == 1:
                ts = rng.sample(self.vocab[S:120], 2)
            elif shape == 2:
                ts = [self.vocab[rng.randrange(S, 120)],
                      self.vocab[rng.randrange(500, V)]]
            elif shape == 3:
                ts = rng.sample(self.vocab[1000:V], 2)
            else:
                ts = [self.vocab[rng.randrange(S, 300)], f"zzq{rng.randrange(10**6)}"]
            key = tuple(sorted(ts))
            if key not in seen:
                seen.add(key)
                out.append([str(t) for t in ts])
        return out


def claims_frame(spark, rows: list[dict]):
    return spark.createDataFrame(pd.DataFrame(rows), CLAIMS_SCHEMA)
