"""URL normalization + crawl-frontier filtering as JVM column expressions.

The reference delegates URL handling to its companion courlan package:
``extract_url`` validates + normalizes the canonical URL
(reference metadata.py:372-396 — mirrored Python-side by
kernel/metadata.py:normalize_url), and the CLI's
``url_processing_pipeline`` (reference cli_utils.py:394-421) filters,
deduplicates and normalizes URL lists before fetching.  At 100 TB the
same operations run over a URL COLUMN: canonicalize so that exact URL
dedup actually collides, and flag navigation / non-crawlable pages so
the frontier never fans out into paging archives or login forms.

Everything here is a pure projection built from pyspark.sql.functions —
no UDF, no shuffle; Catalyst pipelines it into the scan.  Each rule has
an exact DuckDB twin (``normalize_urls_sql``) built from the same
regexes, so the driver's oracle value-checks the whole rule set.

Normalization rules (courlan ``scrub_url``/``normalize_url`` semantics,
same rule set as kernel/metadata.py:normalize_url plus query-parameter
reordering):
  1. lowercase scheme and host (never path or query),
  2. strip default ports (:80 on http, :443 on https),
  3. strip a trailing /index.html|htm|php page,
  4. drop ad/analytics tracking and session query parameters
     (utm_*, fbclid, gclid, dclid, msclkid, mc_*, igshid, ref/ref_src,
     sessionid/sid/phpsessid/jsessionid),
  5. sort the surviving query parameters (courlan reorders them so
     param order never splits a dedup key),
  6. drop the fragment unless it is hashbang routing (#!...).

Filter rules (courlan ``is_navigation_page`` / ``is_not_crawlable``):
  - navigation: /page/N, /paging/N, /pag/N path steps or a page=N query
    parameter — archive/pagination pages, kept out of content dedup,
  - not crawlable: login/logout/signin/signup/register/admin/cart/
    checkout path steps — session-gated pages a crawler must skip.

Derived columns (courlan ``extract_domain`` / ``lang_filter``):
  - ``domain``: the registrable domain — the host minus a leading www.,
    reduced to its last two labels, or three when the second-to-last is
    a common second-level suffix (co/com/net/org/gov/ac/edu under a
    two-letter ccTLD).  A full public-suffix list is a data file this
    build doesn't ship; the heuristic covers the dominant forms and is
    shared verbatim with the DuckDB twin,
  - ``url_lang``: the language a crawler can read off the URL itself —
    a two-letter path prefix (/de/...) or a lang=/hl= query parameter;
    empty when the URL carries no signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme://host[:port] prefix (the only case-normalized region)
_HEAD_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"
# tracking / session query parameters, matched on "name=" or bare "name"
# (same family as kernel/metadata.py:_TRACKING_PARAM_RE + session ids)
_TRACKING_RE = (
    r"^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|mc_[a-z]+|igshid|ref|ref_src"
    r"|sessionid|sid|phpsessid|jsessionid)(=|$)"
)
_INDEX_PAGE_RE = r"/index\.(html|htm|php)$"
_NAVIGATION_RE = r"(/(page|paging|pag)/[0-9]+(/|$)|[?&]page=[0-9]+)"
_NOT_CRAWLABLE_RE = (
    r"://[^/?#]*/(login|logout|signin|signup|register|admin|cart|checkout)(/|$|\?)"
)
# registrable domain: 3 labels when the middle one is a common second-level
# suffix under a 2-letter ccTLD (ex.co.uk), else the last 2 labels
_DOMAIN_RE = r"([^.]+\.(?:co|com|net|org|gov|ac|edu)\.[a-z][a-z]$|[^.]+\.[^.]+$)"
# language readable off the URL: 2-letter path prefix or lang=/hl= param
_LANG_PATH_RE = r"://[^/?#]+/([a-z][a-z])(/|$|\?)"
_LANG_PARAM_RE = r"[?&](?:lang|hl)=([A-Za-z][A-Za-z])(&|$|#)"


def _head(url: Column) -> Column:
    "scheme://host[:port] prefix, empty string when not an absolute URL."
    return F.regexp_extract(url, _HEAD_RE, 0)


def normalize_url_col(url: Column) -> Column:
    """Canonical URL form as a single JVM expression (rules above).

    Relative / invalid URLs (no scheme://host) pass through untouched,
    matching kernel/metadata.py:normalize_url.
    """
    head = _head(url)
    rest = F.substring(url, F.length(head) + 1, 2_000_000_000)
    # lowercase scheme+host, strip default ports
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/?#]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?#]*):443$", r"$1")
    path = F.regexp_extract(rest, r"^[^?#]*", 0)
    path = F.regexp_replace(path, _INDEX_PAGE_RE, "/")
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    fragment = F.regexp_extract(rest, r"#(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~F.lower(p).rlike(_TRACKING_RE),
        )
    )
    query_norm = F.array_join(params, "&")
    out = F.concat(head, path)
    out = F.when(query_norm != "", F.concat(out, F.lit("?"), query_norm)).otherwise(out)
    out = F.when(
        fragment.startswith("!"), F.concat(out, F.lit("#"), fragment)
    ).otherwise(out)
    return F.when(head == "", url).otherwise(out)


def normalize_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL canonicalization + frontier flags for a URL column.

    Output: (id, url_raw, url_norm, host, is_navigation,
    is_not_crawlable, keep) — ``url_norm`` is the dedup key, ``keep``
    the frontier verdict.  100 TB shape: a narrow no-shuffle projection;
    downstream exact URL dedup is then one groupBy(url_norm)."""
    raw = F.col(url_col)
    norm = normalize_url_col(raw)
    host = F.regexp_extract(norm, r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)", 1)
    host_nowww = F.regexp_replace(host, r"^www\.", "")
    dom = F.regexp_extract(host_nowww, _DOMAIN_RE, 1)
    is_nav = norm.rlike(_NAVIGATION_RE)
    no_crawl = F.lower(norm).rlike(_NOT_CRAWLABLE_RE)
    lang = F.lower(
        F.when(
            F.regexp_extract(norm, _LANG_PATH_RE, 1) != "",
            F.regexp_extract(norm, _LANG_PATH_RE, 1),
        ).otherwise(F.regexp_extract(norm, _LANG_PARAM_RE, 1))
    )
    return df.select(
        F.col(id_col),
        raw.alias("url_raw"),
        norm.alias("url_norm"),
        host.alias("host"),
        F.when(dom != "", dom).otherwise(host_nowww).alias("domain"),
        lang.alias("url_lang"),
        is_nav.alias("is_navigation"),
        no_crawl.alias("is_not_crawlable"),
        ((host != "") & ~is_nav & ~no_crawl).alias("keep"),
    )


def normalize_urls_sql(
    url_expr: str, from_clause: str, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of normalize_urls: identical regexes and rule order
    (RE2 backreference syntax ``\\1`` instead of java.util.regex ``$1``;
    semantics are the same for these patterns)."""
    return f"""
    WITH raw AS (SELECT {id_col}, {url_expr} AS url_raw FROM {from_clause}),
    parts AS (
      SELECT {id_col}, url_raw,
             regexp_extract(url_raw, '{_HEAD_RE}') AS head0,
             substring(url_raw, length(regexp_extract(url_raw, '{_HEAD_RE}')) + 1) AS rest
      FROM raw
    ),
    comps AS (
      SELECT {id_col}, url_raw, head0,
             regexp_replace(regexp_replace(lower(head0),
                 '^(http://[^/?#]*):80$', '\\1'),
                 '^(https://[^/?#]*):443$', '\\1') AS head,
             regexp_replace(regexp_extract(rest, '^[^?#]*'),
                 '{_INDEX_PAGE_RE}', '/') AS path,
             regexp_extract(rest, '\\?([^#]*)', 1) AS query,
             regexp_extract(rest, '#(.*)$', 1) AS fragment
      FROM parts
    ),
    normed AS (
      SELECT {id_col}, url_raw,
             CASE WHEN head0 = '' THEN url_raw ELSE
               head || path
               || CASE WHEN qn <> '' THEN '?' || qn ELSE '' END
               || CASE WHEN fragment LIKE '!%' THEN '#' || fragment ELSE '' END
             END AS url_norm
      FROM (
        SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
                   p -> p <> '' AND NOT regexp_matches(lower(p), '{_TRACKING_RE}'))), '&') AS qn
        FROM comps
      )
    )
    SELECT {id_col}, url_raw, url_norm, host,
           CASE WHEN regexp_extract(host_nowww, '{_DOMAIN_RE}', 1) <> ''
                THEN regexp_extract(host_nowww, '{_DOMAIN_RE}', 1)
                ELSE host_nowww END AS domain,
           lower(CASE WHEN regexp_extract(url_norm, '{_LANG_PATH_RE}', 1) <> ''
                 THEN regexp_extract(url_norm, '{_LANG_PATH_RE}', 1)
                 ELSE regexp_extract(url_norm, '{_LANG_PARAM_RE}', 1) END) AS url_lang,
           regexp_matches(url_norm, '{_NAVIGATION_RE}') AS is_navigation,
           regexp_matches(lower(url_norm), '{_NOT_CRAWLABLE_RE}') AS is_not_crawlable,
           host <> ''
             AND NOT regexp_matches(url_norm, '{_NAVIGATION_RE}')
             AND NOT regexp_matches(lower(url_norm), '{_NOT_CRAWLABLE_RE}') AS keep
    FROM (
      SELECT *,
             regexp_extract(url_norm, '^[a-z][a-z0-9+.\\-]*://([^/:?#]+)', 1) AS host,
             regexp_replace(regexp_extract(url_norm, '^[a-z][a-z0-9+.\\-]*://([^/:?#]+)', 1),
                            '^www\\.', '') AS host_nowww
      FROM normed
    )
    """
