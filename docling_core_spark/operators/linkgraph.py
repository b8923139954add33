"""Web link graph: outlink extraction + host-level PageRank.

The crawl-side quality signal the famous pipelines weight by (host-level
link authority; e.g. Common Crawl publishes host-graph ranks and curation
stacks bucket documents by them).  Two stages, both 100 TB shaped:

- ``extract_outlinks``: pure-Catalyst href extraction (JVM regex over the
  page bytes, one regexp_extract_all + explode — no python in the hot
  path), root-relative links resolved against the page host, non-web
  schemes (mailto/javascript/data/#fragment) dropped.  Map-only until the
  explode; no shuffle.
- ``host_edges`` -> ``host_pagerank``: aggregate the edge list per
  (src_host, dst_host) and run PageRank as the classic iterative
  contribs-join.  All arithmetic is INTEGER fixed-point (ranks carry
  ``scale`` units, damping is the rational 17/20, divisions floor), so
  sums are associative and the result is bit-identical at any
  partitioning — the same quantization trick as the k-means IVF refiner
  (similarity.py), which is what lets an iterative float-free algorithm
  carry a full value-hash oracle.  The loop localCheckpoints per
  iteration past 2 (round-7 iterative-plan rule) and the per-iteration
  driver traffic is ONE scalar (the dangling mass), the k-means pattern.

Scale shape at 10^8 hosts: ranks and edges shuffle on host (the edge
list is the big side, ranks the small-but-not-broadcastable side — an
equi-join on the natural key both sides are already hashed on); one
integer-sum hash aggregation per iteration with map-side partials; no
window, no collect of anything but the dangling scalar.

Oracle: extract_outlinks is plain SQL (DuckDB regexp_extract_all — the
pattern lives in the Java/RE2 common subset, the pii.py convention);
host_pagerank is single-process-expected (the python twin replays the
identical integer arithmetic).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "HREF_PATTERN",
    "HOST_PATTERN",
    "extract_outlinks",
    "outlink_edges_sql",
    "host_edges",
    "host_pagerank",
    "py_host_pagerank",
    "link_demo_pages",
    "link_demo_pages_sql",
]

# Java + RE2 common subset (no lookaround, no backrefs; \s spelled out —
# Java \s includes \x0B, RE2's does not: the textstats WS-constant rule)
_WS = r" \t\n\x0B\f\r"
HREF_PATTERN = (
    r"href[" + _WS + r"]*=[" + _WS + r"]*[\"']([^\"'<>" + _WS + r"]+)"
)
HOST_PATTERN = r"(?i)^https?://([^/]+)"

_SKIP_SCHEMES = ("mailto:", "javascript:", "data:", "tel:", "ftp:")


def extract_outlinks(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Pages -> outlink edge rows (url, src_host, out_url, dst_host,
    is_internal).

    Pure Catalyst: decode -> ONE regexp_extract_all into a materialized
    array column (the no-CSE materialization rule), explode, resolve
    root-relative hrefs against the page host, drop non-web schemes and
    bare fragments.  Relative-path links (no leading slash) are dropped —
    resolving them needs the base directory, and crawl frontiers operate
    on root-relative + absolute links (documented subset).
    """
    html_s = F.col(html_col)
    if dict(pages.dtypes).get(html_col) == "binary":
        html_s = html_s.cast("string")  # hrefs are ASCII; utf-8 cast is safe
    # hosts compare case-insensitively: lower both sides at extraction
    src_host = F.lower(F.regexp_extract(F.col(url_col), HOST_PATTERN, 1))
    src_scheme = F.lower(
        F.regexp_extract(F.col(url_col), r"(?i)^(https?)://", 1)
    )
    # materialize the extracted array BEFORE the explode (interpreted HOF /
    # repeated-subexpression rule from CLAUDE.md round-6)
    base = pages.select(
        F.col(url_col).alias("url"),
        src_host.alias("src_host"),
        F.when(src_scheme == "", F.lit("https")).otherwise(src_scheme).alias(
            "src_scheme"
        ),
        F.regexp_extract_all(html_s, F.lit(HREF_PATTERN), 1).alias("hrefs"),
    )
    edges = base.select(
        "url", "src_host", "src_scheme", F.explode("hrefs").alias("href")
    )
    lower = F.lower(F.col("href"))
    is_abs = lower.startswith("http://") | lower.startswith("https://")
    # protocol-relative //host/path: absolute with the page's scheme
    is_proto_rel = F.col("href").startswith("//")
    is_root_rel = F.col("href").startswith("/") & ~is_proto_rel
    keep = (is_abs | is_proto_rel | is_root_rel) & ~F.col("href").startswith("#")
    for s in _SKIP_SCHEMES:
        keep = keep & ~lower.startswith(s)
    out_url = (
        F.when(is_abs, F.col("href"))
        .when(is_proto_rel, F.concat(F.col("src_scheme"), F.lit(":"), F.col("href")))
        .otherwise(
            # root-relative: resolve against the page's own scheme + host
            F.concat(F.col("src_scheme"), F.lit("://"), F.col("src_host"), F.col("href"))
        )
    )
    edges = (
        edges.filter(keep)
        .withColumn("out_url", out_url)
        .withColumn(
            "dst_host", F.lower(F.regexp_extract("out_url", HOST_PATTERN, 1))
        )
        .filter(F.col("dst_host") != "")
        .select(
            "url",
            "src_host",
            "out_url",
            "dst_host",
            (F.col("dst_host") == F.col("src_host")).alias("is_internal"),
        )
    )
    return edges


def outlink_edges_sql(pages_sql: str) -> str:
    """DuckDB oracle for extract_outlinks over ``pages_sql`` (a derived
    table with url + html string columns) — same patterns (the shared
    module constants), same scheme handling."""
    href_pat = HREF_PATTERN.replace("'", "''")
    host_pat = HOST_PATTERN.replace("'", "''")
    return f"""
WITH base AS (
  SELECT url,
         lower(regexp_extract(url, '{host_pat}', 1)) AS src_host,
         CASE WHEN lower(regexp_extract(url, '(?i)^(https?)://', 1)) = ''
              THEN 'https'
              ELSE lower(regexp_extract(url, '(?i)^(https?)://', 1)) END AS src_scheme,
         unnest(regexp_extract_all(html, '{href_pat}', 1)) AS href
  FROM ({pages_sql})
),
kept AS (
  SELECT url, src_host, href,
         CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'
              THEN href
              WHEN href LIKE '//%'
              THEN src_scheme || ':' || href
              ELSE src_scheme || '://' || src_host || href END AS out_url
  FROM base
  WHERE (lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%'
         OR href LIKE '/%')
    AND href NOT LIKE '#%'
    AND lower(href) NOT LIKE 'mailto:%' AND lower(href) NOT LIKE 'javascript:%'
    AND lower(href) NOT LIKE 'data:%' AND lower(href) NOT LIKE 'tel:%'
    AND lower(href) NOT LIKE 'ftp:%'
)
SELECT url, src_host, out_url,
       lower(regexp_extract(out_url, '{host_pat}', 1)) AS dst_host,
       lower(regexp_extract(out_url, '{host_pat}', 1)) = src_host AS is_internal
FROM kept
WHERE lower(regexp_extract(out_url, '{host_pat}', 1)) <> ''
"""


def host_edges(outlinks: DataFrame, drop_self: bool = True) -> DataFrame:
    """Outlink rows -> host graph (src_host, dst_host, n_links).

    One hash aggregation with map-side partials (a hub host's millions of
    identical edges combine locally)."""
    e = outlinks
    if drop_self:
        e = e.filter(~F.col("is_internal"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


# ---------------------------------------------------------------------------
# integer-arithmetic PageRank
# ---------------------------------------------------------------------------

_D_NUM, _D_DEN = 17, 20  # damping 0.85 as a rational — integer math only


def host_pagerank(
    edges: DataFrame,
    iterations: int = 10,
    scale: int = 10**9,
) -> DataFrame:
    """Host PageRank over (src_host, dst_host, n_links) -> (host,
    rank_units, rank).

    Fixed-point: every host starts at ``scale`` units; one iteration is
    contribs-join + integer-sum aggregation + the damping update
    ``rank' = scale*(den-num)//den + num*(incoming + dangling//n)//den``
    (floor divisions; remainders vanish deterministically).  Integer sums
    are associative, so the result is BIT-IDENTICAL at any partitioning —
    the k-means quantization precedent that makes an iterative algorithm
    value-hash checkable.  localCheckpoint per iteration bounds the plan
    (round-7 iterative rule); driver traffic is one dangling-mass scalar
    per iteration."""
    spark = edges.sparkSession
    e = edges.select("src_host", "dst_host", "n_links")
    hosts = (
        e.select(F.col("src_host").alias("host"))
        .unionByName(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    # out-degree in LINKS (weighted): contribution is rank*n_links//out_deg
    out_deg = e.groupBy("src_host").agg(F.sum("n_links").alias("out_deg"))
    # hosts AND out_deg are referenced every iteration (the dangling-mass
    # anti-join rebuilds the whole upstream edge pipeline otherwise) — cut
    # both diamonds once
    hosts = hosts.localCheckpoint(eager=False)
    out_deg = out_deg.localCheckpoint(eager=False)
    n = hosts.count()
    if n == 0:
        return hosts.select(
            "host",
            F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    ew = e.join(out_deg, "src_host")  # (src, dst, n_links, out_deg)
    ew = ew.localCheckpoint(eager=False)  # reused every iteration

    ranks = hosts.select("host", F.lit(int(scale)).cast("long").alias("rank_units"))
    base_term = (scale * (_D_DEN - _D_NUM)) // _D_DEN
    for it in range(iterations):
        contribs = (
            ew.join(ranks, ew.src_host == ranks.host)
            .select(
                F.col("dst_host").alias("host"),
                # floor(r*w/d) computed as (r div d)*w + ((r mod d)*w div d)
                # — exact by the division identity, and each product stays
                # below out_deg*n_links (no rank_units*n_links int64
                # overflow at hub scale); SQL div/mod, never the
                # double-typed '/'.  Matches py twin's bigint r*w//d.
                F.expr(
                    "(rank_units div out_deg) * n_links"
                    " + ((rank_units % out_deg) * n_links) div out_deg"
                ).alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("incoming"))
        )
        # dangling mass: hosts with no outgoing links leak rank — collect
        # the ONE scalar and spread it uniformly (k-means driver pattern)
        dangling = (
            ranks.join(out_deg, ranks.host == out_deg.src_host, "left_anti")
            .agg(F.sum("rank_units"))
            .first()[0]
            or 0
        )
        dang_share = int(dangling) // n
        ranks = (
            ranks.select("host")
            .join(contribs, "host", "left")
            .select(
                "host",
                (
                    F.lit(base_term).cast("long")
                    + F.expr(
                        f"{_D_NUM}L * (coalesce(incoming, 0L) + {dang_share}L)"
                        f" div {_D_DEN}L"
                    )
                ).alias("rank_units"),
            )
        )
        if iterations > 2:
            ranks = ranks.localCheckpoint(eager=False)
    _ = spark
    return ranks.select(
        "host",
        "rank_units",
        F.round(F.col("rank_units") / F.lit(float(scale)), 6).alias("rank"),
    )


def py_host_pagerank(
    edges: Iterable[tuple],
    iterations: int = 10,
    scale: int = 10**9,
) -> list[dict]:
    """Single-process twin of :func:`host_pagerank` — identical integer
    arithmetic over (src_host, dst_host, n_links) tuples."""
    from collections import defaultdict

    edge_list = [(s, d, int(w)) for s, d, w in edges]
    hosts = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
    n = len(hosts)
    if n == 0:
        return []
    out_deg: dict = defaultdict(int)
    for s, _, w in edge_list:
        out_deg[s] += w
    ranks = {h: int(scale) for h in hosts}
    base_term = (scale * (_D_DEN - _D_NUM)) // _D_DEN
    for _ in range(iterations):
        incoming: dict = defaultdict(int)
        for s, d, w in edge_list:
            incoming[d] += (ranks[s] * w) // out_deg[s]
        dangling = sum(r for h, r in ranks.items() if h not in out_deg)
        dang_share = dangling // n
        ranks = {
            h: base_term
            + (_D_NUM * (incoming.get(h, 0) + dang_share)) // _D_DEN
            for h in hosts
        }
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for h in hosts:
        r = ranks[h] / float(scale)
        rr = float(
            Decimal(repr(r)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        out.append({"host": h, "rank_units": ranks[h], "rank": rr})
    return out


# ---------------------------------------------------------------------------
# demo input (deterministic multi-host link graph)
# ---------------------------------------------------------------------------


def link_demo_pages(docs: DataFrame, n_hosts: int = 17) -> DataFrame:
    """Deterministic multi-host pages with REAL html hrefs: doc_id % n_hosts
    picks the host; each page links to two arithmetic-progression hosts, a
    root-relative path, a mailto (dropped), and every third page links to
    the site0 hub (so ranks differentiate).  The synthetic corpus itself is
    single-host (example.org) — vacuous for a host graph (round-5 rule)."""
    did = F.col("doc_id")
    host = F.concat(F.lit("site"), (did % n_hosts).cast("string"), F.lit(".example.com"))

    def hlink(mult: int, add: int) -> F.Column:
        h = F.concat(
            F.lit("site"),
            ((did * mult + add) % n_hosts).cast("string"),
            F.lit(".example.com"),
        )
        return F.concat(
            F.lit('<a href="https://'), h, F.lit("/p/"), did.cast("string"),
            F.lit('">l</a>'),
        )

    html = F.concat(
        F.lit("<html><body>"),
        hlink(7, 1),
        hlink(11, 3),
        F.lit('<a href="/local/'), did.cast("string"), F.lit('">r</a>'),
        F.lit('<a href="mailto:x@example.com">m</a>'),
        F.when(
            did % 3 == 0,
            F.lit('<a href="https://site0.example.com/">hub</a>'),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return docs.select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), did.cast("string")
        ).alias("url"),
        html.alias("html"),
    )


def link_demo_pages_sql(table: str = "documents", n_hosts: int = 17) -> str:
    """The link_demo_pages transformation as DuckDB SQL."""
    return f"""
SELECT 'https://site' || (doc_id % {n_hosts}) || '.example.com/p/' || doc_id AS url,
       '<html><body>'
       || '<a href="https://site' || ((doc_id * 7 + 1) % {n_hosts})
       || '.example.com/p/' || doc_id || '">l</a>'
       || '<a href="https://site' || ((doc_id * 11 + 3) % {n_hosts})
       || '.example.com/p/' || doc_id || '">l</a>'
       || '<a href="/local/' || doc_id || '">r</a>'
       || '<a href="mailto:x@example.com">m</a>'
       || CASE WHEN doc_id % 3 = 0
               THEN '<a href="https://site0.example.com/">hub</a>'
               ELSE '' END
       || '</body></html>' AS html
FROM {table}
"""
