"""URL canonicalization — pure column expressions (JVM-side, codegen'd;
no Python in the hot path), the normalization a crawl pipeline applies
before url-keyed dedup/partitioning.

Policy (deterministic, documented):
  1. scheme and host lowercase; userinfo stripped
  2. default ports stripped (:80 for http, :443 for https)
  3. fragment stripped
  4. tracking query params removed (utm_*, gclid, fbclid); a now-empty
     query string drops its '?'
  5. duplicate slashes in the path collapsed; trailing '/' kept (it is
     semantically significant)

`url_host` extracts the host; `registered_domain_psl` computes the real
eTLD+1 against the BUNDLED Public Suffix List snapshot
(data/public_suffix_snapshot.dat — a curated subset of
publicsuffix.org; swap in the canonical file on deployment) as a
broadcast join over distinct hosts. `registered_domain` stays as the
zero-join column-expression approximation (two labels, or three when
the suffix is a known two-level one like co.uk) — it is also the
fallback for hosts matching no PSL rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import local_frame

# known two-level public suffixes for the zero-join heuristic (the
# bundled PSL snapshot is the real path; this backstops hosts that
# match no PSL rule, and deployments that deleted the snapshot file)
TWO_LEVEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx",
)

_PSL_RESOURCE = "data/public_suffix_snapshot.dat"


def load_psl_rules() -> list[tuple[str, str]]:
    """(suffix, kind) rules from the bundled PSL snapshot — kind is
    'rule' (plain), 'wild' ('*.X' lines: any single label under X is a
    public suffix) or 'exc' ('!Z' lines: Z is NOT a public suffix
    despite a matching wildcard). Empty list when the resource is
    missing (the callers then fall back to the heuristic)."""
    from importlib import resources

    try:
        text = (
            resources.files("document_ai_spark")
            .joinpath(_PSL_RESOURCE)
            .read_text("utf-8")
        )
    except Exception:
        return []
    out: list[tuple[str, str]] = []
    for line in text.splitlines():
        line = line.split("//", 1)[0].strip().lower()
        if not line:
            continue
        if line.startswith("*."):
            out.append((line[2:], "wild"))
        elif line.startswith("!"):
            out.append((line[1:], "exc"))
        else:
            out.append((line, "rule"))
    return out


def load_psl_suffixes() -> list[str]:
    """Plain-rule suffixes only (back-compat helper for tests/callers
    that want a flat list)."""
    return [s for s, kind in load_psl_rules() if kind == "rule"]


def psl_table(spark):
    """The bundled snapshot as a (suffix, kind) DataFrame (broadcast by
    every consumer — a few hundred rows), or None when unavailable."""
    rules = load_psl_rules()
    if not rules:
        return None
    return local_frame(spark, rules, "suffix string, kind string")


def url_host(url: Column) -> Column:
    """Lowercased host (no scheme, userinfo, port, path)."""
    host = F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@]*@)?([^/:?#]+)", 1
    )
    return F.lower(host)


def registered_domain(url: Column) -> Column:
    """eTLD+1 approximation: last two host labels, or three when the
    suffix is a known two-level one (co.uk etc.)."""
    host = url_host(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", parts[n - 2], parts[n - 1])
    last3 = F.concat_ws(".", parts[n - 3], parts[n - 2], parts[n - 1])
    is_two_level = last2.isin(*TWO_LEVEL_SUFFIXES)
    return (
        F.when(n <= 2, host)
        .when(is_two_level & (n >= 3), last3)
        .otherwise(last2)
    )


def with_url_columns(df, url_col: str = "url"):
    """Attach (url_norm, host, domain) — the standard crawl-table
    enrichment before url-keyed operations. Requires no UDF."""
    # materialize intermediates as real columns so expr() references hold
    u = F.trim(F.col(url_col))
    scheme = F.lower(
        F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1)
    )
    rest = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")
    rest = F.regexp_replace(rest, r"^[^/@]*@", "")
    out = (
        df.withColumn("_scheme", scheme)
        .withColumn("_rest", rest)
        .withColumn(
            "_authority", F.regexp_extract("_rest", r"^([^/?#]*)", 1)
        )
        .withColumn(
            "_tail",
            F.expr(
                "substring(_rest, length(_authority) + 1)"
            ),
        )
        .withColumn(
            "_authority",
            F.when(
                (F.col("_scheme") == "http")
                & F.col("_authority").endswith(":80"),
                F.expr("substring(_authority, 1, length(_authority) - 3)"),
            )
            .when(
                (F.col("_scheme") == "https")
                & F.col("_authority").endswith(":443"),
                F.expr("substring(_authority, 1, length(_authority) - 4)"),
            )
            .otherwise(F.col("_authority")),
        )
        .withColumn("_tail", F.regexp_replace("_tail", r"#.*$", ""))
        .withColumn("_path", F.regexp_extract("_tail", r"^([^?]*)", 1))
        .withColumn(
            "_query", F.expr("substring(_tail, length(_path) + 1)")
        )
        # tracking-param strip applies to the QUERY only: '&' is a legal
        # path-segment character, and matching over the whole tail let a
        # literal '&utm_...=' inside the path swallow the rest of the url
        .withColumn(
            "_query",
            F.regexp_replace(
                "_query", r"([?&])(utm_[^=&]*|gclid|fbclid)=[^&]*", r"$1"
            ),
        )
        .withColumn("_query", F.regexp_replace("_query", r"\?&+", "?"))
        .withColumn("_query", F.regexp_replace("_query", r"&&+", "&"))
        .withColumn("_query", F.regexp_replace("_query", r"[?&]+$", ""))
        .withColumn("_path", F.regexp_replace("_path", r"//+", "/"))
        .withColumn(
            "url_norm",
            F.concat(
                "_scheme", F.lit("://"), F.lower("_authority"), "_path",
                "_query",
            ),
        )
        .withColumn("host", url_host(F.col(url_col)))
        .withColumn("domain", registered_domain(F.col(url_col)))
    )
    return out.drop(
        "_scheme", "_rest", "_authority", "_tail", "_path", "_query"
    )


def registered_domain_psl(df, psl=None, url_col: str = "url",
                          out_col: str = "domain"):
    """eTLD+1 with a REAL public-suffix list: `psl(suffix STRING)` is
    broadcast, the LONGEST matching label-tail wins, and the registered
    domain is that suffix plus one label. `psl=None` loads the bundled
    snapshot (psl_table); when that is unavailable too, the whole column
    falls back to the heuristic. Hosts matching no rule fall back to
    the two-label heuristic (the spec's implicit '*' default).

    All three PSL rule kinds are modeled (publicsuffix.org algorithm):
    a plain rule matching a label-tail makes that tail the public
    suffix; a wildcard '*.X' matching makes (one label + X) the public
    suffix; a matching exception '!Z' overrides everything and makes
    (Z minus its first label) the public suffix. The prevailing
    non-exception rule is the one with the most labels. A `psl` frame
    without a `kind` column is treated as all-plain (back-compat).

    Scale shape: the mapping is computed on DISTINCT hosts (domain
    cardinality, tiny next to the row count), each host explodes its
    <= 5 candidate tails against the broadcast rules table, and rows
    join the mapping back on host — the production pattern the heuristic
    `registered_domain` approximates, no UDF anywhere."""
    if psl is None:
        psl = psl_table(df.sparkSession)
        if psl is None:
            return df.withColumn(
                out_col, registered_domain(F.col(url_col))
            )
    if "kind" not in psl.columns:
        psl = psl.withColumn("kind", F.lit("rule"))
    base = df.withColumn("_host", url_host(F.col(url_col)))
    hosts = base.select("_host").distinct()
    parts = F.split(F.col("_host"), r"\.")
    n = F.size(parts)
    # candidate tails include the FULL host (k = n): an exception rule
    # equal to the whole host (e.g. !www.ck) must match; a plain or
    # wildcard rule matching the whole host yields ps_len >= n, the
    # domain stays NULL, and the heuristic fallback applies (a host that
    # IS a public suffix has no registered domain)
    cand = hosts.select(
        "_host",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.least(n, F.lit(5)),
                                                F.lit(1))),
                lambda k: F.struct(
                    F.concat_ws(".", F.slice(parts, n - k + 1, k)).alias(
                        "suffix"
                    ),
                    k.alias("slen"),
                ),
            )
        ).alias("_cand"),
    ).select(
        "_host",
        F.col("_cand.suffix").alias("suffix"),
        F.col("_cand.slen").alias("_slen"),
    )
    # public-suffix label count per matching rule: plain = tail length,
    # wildcard = tail + the one extra label, exception = tail - 1.
    # Candidate tails go up to the FULL host (k = n), so a wildcard or
    # plain rule matching the whole host yields ps_len >= n — the
    # `hn > _ps_len` guard below maps that to NULL (host IS a public
    # suffix, no registered domain) and the heuristic fallback applies;
    # do not remove that guard
    eff_len = (
        F.when(F.col("kind") == "wild", F.col("_slen") + 1)
        .when(F.col("kind") == "exc", F.col("_slen") - 1)
        .otherwise(F.col("_slen"))
    )
    hit = (
        cand.join(F.broadcast(psl.select("suffix", "kind")), "suffix")
        .select("_host", "kind", eff_len.alias("_eff"))
        .groupBy("_host")
        .agg(
            F.max(F.when(F.col("kind") == "exc", F.col("_eff"))).alias(
                "_exc_len"
            ),
            F.max(F.when(F.col("kind") != "exc", F.col("_eff"))).alias(
                "_best_len"
            ),
        )
        .select(
            "_host",
            F.coalesce("_exc_len", "_best_len").alias("_ps_len"),
        )
    )
    hp = F.split(F.col("_host"), r"\.")
    hn = F.size(hp)
    mapping = hosts.join(hit, "_host", "left").select(
        "_host",
        F.when(
            F.col("_ps_len").isNotNull() & (hn > F.col("_ps_len")),
            F.concat_ws(
                ".",
                F.slice(hp, hn - F.col("_ps_len"), F.col("_ps_len") + 1),
            ),
        ).alias("_psl_domain"),
    )
    out = base.join(F.broadcast(mapping), "_host", "left").withColumn(
        out_col,
        F.coalesce(
            F.col("_psl_domain"), registered_domain(F.col(url_col))
        ),
    )
    return out.drop("_host", "_psl_domain")


def host_metrics(extracted, url_col: str = "url", psl=None):
    """Per-registered-domain crawl stats over an extracted table: docs,
    raw bytes, parse failures — the rollup an operator watches for a
    misbehaving host. Domains are true eTLD+1 via the bundled PSL
    snapshot (broadcast over distinct hosts); one scan + one uniform-key
    aggregation."""
    e = registered_domain_psl(extracted, psl, url_col=url_col)
    return e.groupBy("domain").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("html_bytes").alias("bytes"),
        F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias(
            "parse_failures"
        ),
    )
