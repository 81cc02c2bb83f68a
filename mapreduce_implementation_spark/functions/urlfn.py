"""URL canonicalization expressions — the web-corpus curation step the
dedup family assumes upstream (the reference has no URL handling at all;
this extends SURVEY.md §2b's curation surface the way CommonCrawl-style
pipelines need it before host-level dedup).

Everything here is a pure column expression (regexp_extract /
regexp_replace / higher-order array functions) — whole-stage codegen,
no UDFs, a free rider on the scan at 100 TB.  The grammar is the
pragmatic crawl-dedup canon, NOT full RFC 3986 resolution:

* scheme and host lowercase (RFC 3986 §6.2.2.1 case normalization);
* userinfo (``user:pass@``) is DROPPED from the authority — it is
  client state, not document identity, and keeping it both splits
  host-level dedup groups and leaks credentials into the canonical key
  (kept, 'https://User@WWW.Example.com/x' would group under
  'user@www.example.com' with the www. not stripped);
* a leading ``www.`` label is stripped (host aliasing convention);
* default ports are dropped (``https:443`` / ``http:80``), any other
  explicit port is kept;
* the fragment never reaches the server — dropped entirely;
* tracking query params (``utm_*`` / ``gclid`` / ``fbclid`` / ``ref``)
  are removed, the survivors are SORTED so param order can't split a
  duplicate, and an emptied query string loses its ``?``;
* an empty path canonicalizes to ``/``; path case is PRESERVED (paths
  are case-sensitive, unlike scheme/host).

Each rule is expressible identically in DuckDB SQL, so queries built on
these expressions stay hash-oracle-able (see queries/dedup.py's
``dedup_url_canonical`` for the SQL twin).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["url_host", "canonicalize_url", "TRACKING_PARAM_RE"]

# anchored on the param NAME (the text before '='); [A-Za-z0-9_]* keeps
# the utm_ family open-ended (utm_source, utm_medium, utm_campaign, ...)
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)="


def url_host(url: Column) -> Column:
    """Canonical host: userinfo stripped, lowercase, port stripped,
    leading ``www.`` label removed.  The grouping key for host-level
    corpus stats.  Userinfo cannot contain an unencoded ``@`` (RFC 3986
    §3.2.1), so stripping through the FIRST ``@`` is exact."""
    hostport = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    hostport = F.regexp_replace(hostport, r"^[^@]*@", "")
    host = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    return F.regexp_replace(host, r"^www\.", "")


def canonicalize_url(url: Column) -> Column:
    """The canonical form of ``url`` per the module-doc rules.

    Structured as extract-components -> normalize each -> reassemble
    (never iterative string surgery on the whole URL, which is where
    order-dependent regex bugs live).  All branches are codegen'd
    expressions; the param scrub uses ``filter``/``array_sort``/
    ``array_join`` higher-order functions over the split query string.
    """
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # userinfo is dropped from the canonical form (module doc; the
    # port/host reads below then see the bare host[:port])
    hostport = F.regexp_replace(hostport, r"^[^@]*@", "")
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, r":[0-9]+$", "")), r"^www\.", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = ((scheme == F.lit("https")) & (port == F.lit("443"))) | (
        (scheme == F.lit("http")) & (port == F.lit("80")))
    port_part = F.when((port != F.lit("")) & ~default_port,
                       F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    raw_path = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(raw_path == F.lit(""), F.lit("/")).otherwise(raw_path)
    qs = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    kept = F.array_join(
        F.array_sort(F.filter(
            F.split(qs, "&"),
            lambda x: (x != F.lit("")) & ~x.rlike(TRACKING_PARAM_RE))),
        "&")
    query_part = F.when(kept != F.lit(""),
                        F.concat(F.lit("?"), kept)).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
