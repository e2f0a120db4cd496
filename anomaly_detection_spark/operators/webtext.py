"""Web-text normalization and URL/domain extraction.

The CCNet/FineWeb-style "clean scraped text before filtering" pass:
strip control characters, canonicalize unicode spaces / quotes /
dashes / ellipses to ASCII, collapse whitespace — plus URL extraction
with per-doc domain lists (the hook for domain blocklists and
URL-level dedup).

All pure JVM ``regexp_replace`` / ``regexp_extract_all`` chains inside
whole-stage codegen (no Python, no shuffle): at 10^12 documents this is
a scan-speed projection. Every pattern stays in the Java-regex ∩ RE2
common subset (``\\x{...}`` BMP escapes, ASCII ``\\s``) so a DuckDB
oracle reproduces the normalized bytes exactly; all referenced
codepoints are BMP, keeping Spark's UTF-16 ``length`` equal to
DuckDB's codepoint ``length``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomaly_detection_spark.caching import broadcast_if_small, cached

# class bodies shared by the normalization rules, the URL terminator
# and the n_upunct metric (and, via the shared constants, the DuckDB
# oracle twin)
_USPACES = r"\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{3000}"  # width-bearing spaces
_ZEROWIDTH = r"\x{200B}-\x{200D}\x{FEFF}"  # ZWSP/ZWNJ/ZWJ + BOM: no width, DELETE

# Ordered normalization rules (pattern -> replacement), applied
# top-to-bottom. C0 controls minus \t\n\r go first so later \s+
# collapsing only sees whitespace; zero-width characters are DELETED
# (mapping ZWSP to ' ' would invent word boundaries the source never
# had — 'data​base' must normalize to 'database', not 'data
# base'); width-bearing unicode spaces map to ASCII space; \t\n\r fold
# in the final collapse.
NORMALIZE_RULES: list[tuple[str, str]] = [
    # C0 control chars (keep \t\n\r) + DEL
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),
    # zero-width chars -> deleted
    (rf"[{_ZEROWIDTH}]", ""),
    # unicode spaces -> ASCII space (NBSP, ogham, en/em/thin..., NNBSP,
    # ideographic space)
    (rf"[{_USPACES}]", " "),
    # curly single quotes -> apostrophe
    (r"[\x{2018}\x{2019}]", "'"),
    # curly double quotes -> quote
    (r"[\x{201C}\x{201D}]", "\""),
    # en/em dash -> hyphen
    (r"[\x{2013}\x{2014}]", "-"),
    # horizontal ellipsis -> three dots
    (r"\x{2026}", "..."),
    # collapse whitespace runs
    (r"\s+", " "),
]

# the URL path ends at ANY space this module recognizes — ASCII
# whitespace, unicode spaces, or zero-width separators. With only
# ASCII terminators, two URLs separated by an NBSP (ordinary scraped
# web text) would merge into one garbage match and n_urls would
# disagree with the domains column.
URL_PATTERN = rf"https?://[A-Za-z0-9.-]+(/[^ \t\n\r{_USPACES}{_ZEROWIDTH}]*)?"
_DOMAIN_GROUP = r"https?://([A-Za-z0-9.-]+)"

# every codepoint the unicode-canonicalization rules touch (spaces,
# zero-widths, curly quotes, dashes, ellipsis) — the n_upunct metric
# counts these on the raw text; shared with the DuckDB oracle twin.
UPUNCT_PATTERN = (
    rf"[{_USPACES}{_ZEROWIDTH}"
    r"\x{2018}\x{2019}\x{201C}\x{201D}\x{2013}\x{2014}\x{2026}]"
)


def normalize_text_expr(text: Column | str) -> Column:
    """Normalized text as a column expression (NULL stays NULL)."""
    t = F.col(text) if isinstance(text, str) else text
    for pat, repl in NORMALIZE_RULES:
        t = F.regexp_replace(t, pat, repl)
    return F.trim(t)


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Replace (or add, via ``out_col``) the text column with its
    normalized form. Idempotent: normalizing twice is a no-op."""
    return df.withColumn(out_col or text_col, normalize_text_expr(text_col))


def extract_urls(text: Column | str) -> Column:
    """All URLs in the text, in order; null-safe (empty array)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(t.isNull(), F.array().cast("array<string>")).otherwise(
        F.regexp_extract_all(t, F.lit(URL_PATTERN), F.lit(0))
    )


def extract_domains(text: Column | str) -> Column:
    """The host part of every URL, in order; null-safe (empty array)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(t.isNull(), F.array().cast("array<string>")).otherwise(
        F.regexp_extract_all(t, F.lit(_DOMAIN_GROUP), F.lit(1))
    )


def cleanup_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc normalization + URL signals in ONE projection:

    - ``n_chars_raw`` / ``n_chars_clean``: length before/after
      normalization (BMP-only rules keep both engines' lengths equal);
    - ``n_ctrl`` / ``n_upunct``: control chars stripped, unicode
      punctuation/space codepoints canonicalized;
    - ``n_urls`` and sorted-distinct ``domains`` (array<string>) for
      blocklist joins / URL-level dedup;
    - ``clean_text``: the normalized text itself.
    """
    t = F.col(text_col)
    nraw = F.coalesce(F.length(t), F.lit(0)).cast("bigint")
    clean = normalize_text_expr(t)
    count = lambda pat: (  # noqa: E731 — local formula alias
        F.when(t.isNull(), F.lit(0))
        .otherwise(F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))))
        .cast("bigint")
    )
    return df.select(
        F.col(id_col),
        nraw.alias("n_chars_raw"),
        F.coalesce(F.length(clean), F.lit(0)).cast("bigint").alias("n_chars_clean"),
        count(NORMALIZE_RULES[0][0]).alias("n_ctrl"),
        count(UPUNCT_PATTERN).alias("n_upunct"),
        F.size(extract_urls(t)).cast("bigint").alias("n_urls"),
        F.array_sort(F.array_distinct(extract_domains(t))).alias("domains"),
        clean.alias("clean_text"),
    )


def _host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host ('a.b.bad.com' -> ['a.b.bad.com',
    'b.bad.com', 'bad.com', 'com']): the scalable way to match
    blocklists that ban whole registrable domains — an equi-join on the
    exploded suffixes instead of an unjoinable LIKE/endswith predicate.
    Bounded by the label count (hosts have a handful of labels), so the
    interpreted higher-order transform is per-URL-trivial."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
    )


def blocklist_hits(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """Per-doc blocked-URL counts: ``(id_col, n_urls, n_blocked,
    blocked BOOLEAN)``.

    A blocklist entry bans the exact host AND every subdomain of it
    (the usual blocklist contract): each URL's host explodes into its
    dot-suffixes and equi-joins the list. Docs without URLs keep their
    row (explode_outer) with zeros. The blocklist rides the house
    count-guarded broadcast (persist first, count the persisted frame,
    hint the same frame; registered under a bounded cache label so
    repeated calls don't accumulate executor storage).
    """
    bl, _ = broadcast_if_small(
        cached("webtext_blocklist", blocklist.select(F.col(domain_col).alias("_bl")).distinct()),
        broadcast_bound,
    )

    urls = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(extract_domains(text_col)).alias("_host")
    )
    # one row per (url, suffix); NULL host (doc without URLs) keeps one
    # NULL row so the doc survives the aggregate with n_urls = 0
    sufs = urls.select(
        "_id",
        "_host",
        F.explode_outer(
            F.when(F.col("_host").isNotNull(), _host_suffixes(F.col("_host")))
        ).alias("_suf"),
    )
    joined = sufs.join(bl, sufs["_suf"] == bl["_bl"], "left")
    # aggregate straight to the doc: n_urls counts the suffix rows
    # where the suffix equals the full host (exactly one per URL
    # occurrence), and a doc is blocked iff ANY suffix row matched.
    return (
        joined.groupBy("_id")
        .agg(
            F.sum(F.when(F.col("_suf") == F.col("_host"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_urls"),
            F.count_distinct(
                F.when(F.col("_bl").isNotNull(), F.col("_host"))
            ).cast("bigint")
            .alias("n_blocked_domains"),
            F.max(F.col("_bl").isNotNull()).alias("blocked"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_urls",
            "n_blocked_domains",
            F.coalesce("blocked", F.lit(False)).alias("blocked"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """The surviving corpus: input rows minus docs that link any
    blocked domain (left_anti on the flagged ids — AQE sizes the join;
    the flag side is the aggregate of :func:`blocklist_hits`)."""
    hits = blocklist_hits(
        df, blocklist, text_col, id_col, domain_col, broadcast_bound
    )
    bad = hits.filter(F.col("blocked")).select(F.col(id_col))
    return df.join(bad, id_col, "left_anti")


def domain_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level (domain, n_docs, n_urls) — the blocklist/dedup
    audit table. One scan + one hash aggregate; partial-aggregates
    map-side, so the shuffle carries only distinct domains."""
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode(extract_domains(text_col)).alias("domain")
    )
    return ex.groupBy("domain").agg(
        F.count_distinct(F.col("_id")).cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
    )
