"""URL scalar functions: canonicalization, hashing, validity.

L7 from SURVEY.md §2.7. Everything stays JVM-side (``regexp_extract``,
``xxhash64``, ``parse_url``); ``canonical_url`` covers the ``urljoin`` cases
that occur in board markup.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonical_url(base: Column, href: Column) -> Column:
    """Absolute URL for a discovered href — pure JVM expressions.

    A pandas UDF here would run for EVERY row even under a ``when`` branch
    (ArrowEvalPython evaluates the whole batch before the projection picks
    branches), putting Python in the hottest path of the engine. The
    urljoin cases that occur in board markup are all expressible JVM-side:

      absolute            -> href
      protocol-relative   -> scheme + href
      root-relative (/x)  -> scheme://host + href
      query-only (?x)     -> base path + href
      relative (x/y)      -> base directory + href
    """
    scheme = F.regexp_extract(base, r"^(https?):", 1)
    origin = F.regexp_extract(base, r"^(https?://[^/?#]+)", 1)
    basedir = F.regexp_extract(base, r"^(.*/)[^/?#]*(?:[?#].*)?$", 1)
    basepath = F.regexp_extract(base, r"^([^?#]*)", 1)
    return (
        F.when(href.isNull(), F.lit(None).cast("string"))
        .when(href.startswith("http://") | href.startswith("https://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(href.startswith("?"), F.concat(basepath, href))
        .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), href)  # other schemes
        .otherwise(F.concat(basedir, href))
    )


def url_hash(url: Column) -> Column:
    """64-bit key for the seen-filter / dedup (north_rule: canonicalized-URL
    hash). xxhash64 is a JVM built-in — no Python in the hot path."""
    return F.xxhash64(url)


def is_valid_post_url(url: Column) -> Column:
    """F1 validity gate (dcinside_politics.py:26-29 + fmkorea variant):
    reject null / javascript: / the dcinside ad host; require http prefix."""
    return (
        url.isNotNull()
        & url.startswith("http")
        & ~url.contains("javascript:")
        & ~url.contains("addc.dcinside.com")
    )

