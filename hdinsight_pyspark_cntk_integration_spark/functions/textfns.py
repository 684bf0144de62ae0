"""Text scalar helpers (JVM-side) for the text-analysis operator family.

No counterpart in the reference (SURVEY.md §2.7) — these are the
training-data-pipeline additions. All are per-row Catalyst expressions:
deterministic, codegen-friendly, shuffle-free.

Tokenization policy (one for the whole engine): a word is a maximal
run of non-whitespace characters of the lowercased text, in document
order — :func:`tokens`. Every word-level operator reads that array
(or ``operators.text.token_table``, its exploded form), so no two
operators can disagree on tabs, newlines, doubled spaces, blank or
NULL text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """The engine's one tokenizer → array<string>: the runs of
    non-whitespace characters of the lowercased text, in document order.

    The array never holds an empty string. NULL text and blank text
    both give ``[]`` (the text has no tokens), so callers need no
    ``coalesce`` and no empty-token filter. Whitespace is Java's ``\\s``
    (space, tab, newline, CR, FF and VT); DuckDB's RE2 ``\\s`` leaves VT
    out, which is the one place an oracle's ``regexp_extract_all(text,
    '\\S+')`` can differ."""
    return F.regexp_extract_all(F.lower(F.coalesce(_c(col), F.lit(""))), F.lit(r"\S+"), 0)


def token_count(col: Column | str) -> Column:
    """Number of :func:`tokens` as long; 0 for NULL, empty or blank text."""
    return F.size(tokens(col)).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """(punctuation chars) / (total chars), double; 0 for empty text."""
    c = _c(col)
    total = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct.cast("double") / total.cast("double"))


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), _WS, " "))


def fingerprint_md5(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized text.
    Used by exact dedup; identical output to any standard md5 (oracle-safe)."""
    return F.md5(normalized_text(col))


def rolling_hash(col: Column | str, base: int = 31, mod: int = 1_000_003) -> Column:
    """Polynomial (Rabin-Karp) fingerprint of the text's code points:
    h = Σ cp_i · base^(n-1-i) mod ``mod`` — the streaming-updatable hash
    family behind rolling-window fingerprinting.

    Pure arithmetic on code points, so an independent SQL engine
    reproduces it bit-for-bit (unlike md5-of-bytes there is no codec in
    the loop). The fold is a Catalyst ``aggregate`` — interpreted, fine
    for fingerprint projections; the windowed variant vectorizes in
    NumPy. Empty text hashes to 0; NULL stays NULL.
    """
    c = _c(col)
    folded = F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * base + F.ascii(ch), F.lit(mod)),
    )
    return F.when(F.length(c) == 0, F.lit(0).cast("long")).otherwise(folded)


def canonical_url(col: Column | str) -> Column:
    """Crawl-pipeline URL canonicalization — the normalization step that
    makes URL-keyed dedup/frontier logic see ``HTTP://Example.com/a?utm_
    source=x&q=1#frag`` and ``http://example.com/a?q=1`` as the same
    page. Deterministic string algebra only (no UDF, reproducible in
    ANSI-ish SQL for the oracle):

    1. lowercase the scheme and host (path/query case is preserved —
       paths are case-sensitive on most servers);
    2. drop the fragment (``#...`` never reaches the server);
    3. drop known tracking parameters (``utm_*``, ``fbclid``,
       ``gclid``, ``ref``);
    4. sort the surviving query parameters (param order is not
       semantically significant);
    5. drop a trailing ``?`` left by an emptied query and a trailing
       ``/`` on a non-root path.
    """
    c = _c(col)
    # split off fragment
    no_frag = F.split(c, "#", 2)[0]
    head = F.split(no_frag, r"\?", 2)[0]
    query = F.when(
        F.instr(no_frag, "?") > 0, F.substring_index(no_frag, "?", -1)
    ).otherwise(F.lit(""))
    # lowercase scheme://host (the prefix up to the first '/' after '://')
    scheme_host = F.concat(
        F.lower(F.substring_index(head, "://", 1)),
        F.lit("://"),
        F.lower(F.split(F.substring_index(head, "://", -1), "/", 2)[0]),
    )
    path = F.when(
        F.instr(F.substring_index(head, "://", -1), "/") > 0,
        F.concat(F.lit("/"), F.split(F.substring_index(head, "://", -1), "/", 2)[1]),
    ).otherwise(F.lit(""))
    # strip ONE trailing slash from a non-root path
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme_host,
        path,
        F.when(F.length(canon_q) > 0, F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )
