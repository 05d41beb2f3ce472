"""URL/domain operators for web-corpus pipelines.

Host extraction, URL normalization and naive registrable-domain grouping —
the columns a web-scale pipeline keys its domain-level stages on (domain
mixing à la CCNet/C4, blocklist gating, per-domain caps, URL dedup). The
reference repo has no URL handling; this is a beyond-reference family like
functions/repetition.py and functions/webquality.py.

Everything here is a PURE PER-ROW PROJECTION of native string/regexp
expressions — no UDF, no shuffle; the downstream domain group-bys shuffle
only the (short) domain strings. All regexes stay in the common
Java/RE2/Python dialect (same contract as functions/pii.py) so the DuckDB
oracle and pytest mirrors replay them verbatim.

Scope notes (documented contract, not hidden limitations):
- ``registrable_domain`` is PSL-naive: it takes the last two host labels,
  or three when the last two form a common two-level public suffix
  (``TWO_LEVEL_TLDS``). A production system would broadcast-join the full
  Public Suffix List — the plan shape is identical (the suffix table is a
  few-thousand-row broadcast map); the built-in set keeps this hermetic.
- IDN hosts pass through as-is (no punycode conversion — no external lib).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: common two-level public suffixes the naive registrable-domain rule
#: recognizes (a bounded, documented subset of the PSL)
TWO_LEVEL_TLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "co.za", "com.ar", "com.tr",
)

_SCHEME = "^[A-Za-z][A-Za-z0-9+.-]*://"


def _rest(col: Column) -> Column:
    """URL minus scheme and fragment."""
    return F.regexp_replace(F.regexp_replace(col, "#.*", ""), _SCHEME, "")


def url_scheme(col: Column) -> Column:
    """Lowercased scheme, '' when absent (scheme-relative / bare URLs)."""
    return F.lower(F.regexp_extract(col, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))


def url_host(col: Column) -> Column:
    """Lowercased host: scheme/fragment off, authority up to the first
    ``/?#``, userinfo and port stripped, trailing dots removed."""
    auth = F.regexp_extract(_rest(col), "^([^/?#]*)", 1)
    hostport = F.regexp_replace(auth, "^[^@]*@", "")
    host = F.regexp_replace(hostport, ":[0-9]*$", "")
    return F.regexp_replace(F.lower(host), "\\.+$", "")


def url_port(col: Column) -> Column:
    """Explicit port string, '' when absent."""
    auth = F.regexp_extract(_rest(col), "^([^/?#]*)", 1)
    hostport = F.regexp_replace(auth, "^[^@]*@", "")
    return F.regexp_extract(hostport, ":([0-9]+)$", 1)


def url_path_query(col: Column) -> Column:
    """Path + query (everything after the authority, before the fragment)."""
    return F.regexp_replace(_rest(col), "^[^/?#]*", "")


def registrable_domain(
    col: Column, two_level_tlds: tuple[str, ...] = TWO_LEVEL_TLDS
) -> Column:
    """Naive registrable domain of a HOST column: last two labels, or last
    three when the last two are a known two-level public suffix. Hosts with
    fewer than two labels (localhost, bare TLD) and numeric IPv4 hosts pass
    through unchanged."""
    parts = F.split(col, "\\.")
    np = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    return (
        F.when(np < 2, col)
        .when(col.rlike("^[0-9.]+$"), col)
        .when((np >= 3) & last2.isin(*two_level_tlds), last3)
        .otherwise(last2)
    )


def url_normalize(col: Column) -> Column:
    """Canonical URL for exact URL dedup: lowercase scheme + host, missing
    scheme -> http, userinfo kept out of the canonical form (it is
    credentials, not identity), default ports dropped (http:80, https:443),
    fragment dropped, empty path -> '/'. Query strings are KEPT verbatim
    (dropping tracking params is site-specific policy — do it with an
    explicit regexp_replace stage if wanted)."""
    scheme = url_scheme(col)
    scheme_n = F.when(scheme == "", F.lit("http")).otherwise(scheme)
    host = url_host(col)
    port = url_port(col)
    port_n = (
        F.when(port == "", F.lit(""))
        .when((scheme_n == "http") & (port == "80"), F.lit(""))
        .when((scheme_n == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    pq = url_path_query(col)
    pq_n = F.when(pq == "", F.lit("/")).otherwise(pq)
    return F.concat(scheme_n, F.lit("://"), host, port_n, pq_n)


def with_url_columns(
    df: DataFrame, url_col: str = "url", prefix: str = ""
) -> DataFrame:
    """Append host / registrable domain / normalized-URL columns — the
    projection every domain-level stage keys on."""
    u = F.col(url_col)
    return df.withColumns(
        {
            f"{prefix}host": url_host(u),
            f"{prefix}domain": registrable_domain(url_host(u)),
            f"{prefix}url_norm": url_normalize(u),
        }
    )


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, n_docs, frac) — the corpus domain mix. One shuffle keyed on
    the short domain string with map-side combine; the total-count
    denominator rides a broadcast scalar (no second scan)."""
    d = df.select(registrable_domain(url_host(F.col(url_col))).alias("domain"))
    counts = d.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.broadcast(d.groupBy().agg(F.count(F.lit(1)).alias("_total")))
    return counts.crossJoin(total).select(
        "domain",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_total"), 4).cast("double").alias("frac"),
    )


def domain_cap(
    df: DataFrame,
    url_col: str = "url",
    max_per_domain: int = 1000,
    id_col: str | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``max_per_domain`` rows per registrable domain — the
    standard anti-domination policy (one mirror farm must not become 5% of
    the corpus). Selection is DETERMINISTIC and content-independent: rows
    rank by ``md5(url)`` (tie-broken by url, then ``id_col`` when given) so
    reruns and resumes keep the same winners regardless of partitioning.

    Scale shape (id_col form — the 100 TB form): hot domains ARE the
    expected skew here (that is why the cap exists), so the winner
    selection is a salted TWO-STAGE min-N (guide §2.5 two-level
    aggregation): stage 1 ranks a slim (id, url, domain) projection within
    (domain, salt) partitions — a hot domain spreads over ``salt_buckets``
    reducers — and keeps each group's ``max_per_domain`` smallest; stage 2
    ranks the survivors per domain, whose input is now at most
    ``salt_buckets × max_per_domain`` rows per domain instead of
    |domain|. Every global winner is in its salt group's top-N, so the
    winner set is IDENTICAL to the single-window form (pytest-proven on a
    synthetic one-domain-dominates corpus). The winner ids semi-join back
    — content never rides the skewed shuffle. The salt is a deterministic
    function of the url (resume-safe).

    Without an id there is no join key, so a single window carries the
    full rows (fine for narrow frames; the per-domain reducer caveat
    applies). For pathological single-domain corpora, pre-filter with
    ``domain_stats`` and handle the giants out-of-band."""
    from pyspark.sql import Window

    dom = registrable_domain(url_host(F.col(url_col)))
    if id_col:
        order = [F.md5(F.col(url_col)), F.col(url_col), F.col(id_col)]
        salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy("_dom", "_salt").orderBy(*order)
        w = Window.partitionBy("_dom").orderBy(*order)
        winners = (
            df.select(id_col, url_col, dom.alias("_dom"), salt.alias("_salt"))
            .withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= max_per_domain)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_per_domain)
            .select(id_col)
        )
        return df.join(winners, id_col, "left_semi")
    w = Window.partitionBy(dom).orderBy(F.md5(F.col(url_col)), F.col(url_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )
