"""Request parsing + validation (SURVEY.md §2.11).

Mirrors the reference's API contract: /search validation rules
(ref: /root/reference/app/actions/search/search.go:26-63 with
ozzo-validation rules; validator.go:10-26 for mediaType) and
/autocomplete (auto_complete.go:22-42).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

MEDIA_TYPES = {"audio", "video", "text", "application", "image", "cad"}
MAX_SIZE = 10_000   # search.go:58
MAX_FROM = 9_999    # search.go:59
MAX_QUERY_CHARS = 300  # special.go:43-50
# cad special-case: query.go:326-331
CAD_TYPES = ("SKP", "simplify3d_stl")

QUOTED_RE = re.compile(r'"([^"]*)"')

# projection constants (search.go:79-91): every response carries
# name+claimId; `include` appends caller fields; `resolve` appends the
# fixed resolve column set the desktop app needs.
BASE_INCLUDES = ("name", "claim_id")                     # search.go:79
RESOLVE_INCLUDES = (                                     # search.go:88-90
    "channel", "channel_claim_id", "title", "thumbnail_url",
    "release_time", "fee", "nsfw", "duration",
)


class ValidationError(ValueError):
    pass


@dataclass
class SearchRequest:
    """One /search request (search.go:26-49)."""

    s: str
    size: int = 10
    from_: int = 0
    channel: str | None = None
    channel_id: str | None = None
    claim_id: str | None = None
    claim_type: str | None = None       # "channel" | "file" (query.go:336-345)
    media_type: str | None = None       # comma-separated families
    content_type: str | None = None     # comma-separated exact MIME list
    nsfw: bool | None = None
    free_only: bool = False
    related_to: str | None = None       # doc to source MLT terms from
    sort_by: str | None = None          # "field" DESC / "^field" ASC (search.go:115)
    include: list[str] = field(default_factory=list)
    source: bool = False                # return full stored doc (search.go:85-87)
    resolve: bool = False               # append RESOLVE_INCLUDES (search.go:88-90)
    explain: bool = False

    def cache_key(self) -> tuple:
        """Hashable identity of everything that affects the result —
        the per-index plan-cache key (functions/memo)."""
        return (
            self.s, self.size, self.from_, self.channel, self.channel_id,
            self.claim_id, self.claim_type, self.media_type,
            self.content_type, self.nsfw, self.free_only, self.related_to,
            self.sort_by, tuple(self.include), self.source, self.resolve,
        )

    def projection(self, available: list[str]) -> list[str]:
        """The response column set (search.go:79-91): name+claimId,
        plus `include`, plus the resolve set — intersected with the
        corpus's actual columns; `source=True` returns everything."""
        if self.source:
            return list(available)
        cols = list(BASE_INCLUDES) + list(self.include)
        if self.resolve:
            cols += list(RESOLVE_INCLUDES)
        seen, out = set(), []
        for c in cols:
            if c in available and c not in seen:
                seen.add(c)
                out.append(c)
        return out or list(available)

    def validate(self) -> None:
        if self.s is None or len(self.s) < 3 or len(self.s) > 99_999:
            raise ValidationError("s is required, length 3..99999")  # search.go:57
        if not (0 < self.size <= MAX_SIZE):
            raise ValidationError(f"size must be in 1..{MAX_SIZE}")
        if not (0 <= self.from_ <= MAX_FROM):
            raise ValidationError(f"from must be in 0..{MAX_FROM}")
        if self.media_type:
            for m in self.media_type.split(","):
                if m and m not in MEDIA_TYPES:
                    # invalid media type matches nothing (query.go:279-281)
                    pass


@dataclass
class AutoCompleteRequest:
    """One /autocomplete request (auto_complete.go:22-42)."""

    s: str
    size: int = 10
    from_: int = 0
    nsfw: bool | None = None

    def cache_key(self) -> tuple:
        """Hashable identity for the per-index plan cache."""
        return (self.s, self.size, self.from_, self.nsfw)

    def validate(self) -> None:
        if not self.s:
            raise ValidationError("s is required, length >= 1")
        if not (0 < self.size <= MAX_SIZE):
            raise ValidationError(f"size must be in 1..{MAX_SIZE}")
        if not (0 <= self.from_ <= MAX_FROM):
            raise ValidationError(f"from must be in 0..{MAX_FROM}")


def truncate_query(s: str, limit: int = MAX_QUERY_CHARS) -> str:
    """Cap pathological queries at 300 chars (special.go:43-50)."""
    return s[:limit]


def extract_quoted_phrases(s: str) -> list[str]:
    """Pull quoted exact phrases out of the query text (query.go:230-254
    uses a trailing-quote regex; we accept quoted spans anywhere and
    treat each as an exact-phrase filter)."""
    return [m for m in QUOTED_RE.findall(s) if m.strip()]
