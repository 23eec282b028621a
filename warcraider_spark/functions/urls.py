"""URL absolutization + registrable-domain extraction (SURVEY §2.9 #4).

Replaces /root/reference/src/lib.rs:400-417 (make_urls_absolute) and
main.rs:333-339 (public-suffix root domain). Python UDFs because RFC-3986
resolution and suffix rules are not Catalyst expressions; Arrow-batched so
the per-row cost is a dict lookup + urljoin.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse, urlunparse

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

__all__ = ["make_urls_absolute", "root_domain", "absolutize_udf", "root_domain_udf"]

# lib.rs:59 — quote marks anywhere, %dd only at end-of-string
_QUOTE_MARKS_RE = re.compile(r"'|“|\"|&quot;|%\d\d$")

# Embedded public-suffix subset (the PSL itself is public; no PSL library
# ships in this container). Covers the major ccTLD second-level registries
# so exotic hosts root correctly — still a subset; swap in the full list
# via the `publicsuffix2` package when available. Two-label suffixes first
# so "foo.gov.au" → "foo.gov.au" roots at 3 labels.
_TWO_LABEL_SUFFIXES = frozenset(
    {
        # au (incl. state registries)
        "gov.au", "com.au", "net.au", "org.au", "edu.au", "asn.au", "id.au",
        "act.au", "nsw.au", "nt.au", "qld.au", "sa.au", "tas.au", "vic.au", "wa.au",
        # uk
        "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk", "net.uk", "ltd.uk",
        "plc.uk", "sch.uk", "nhs.uk", "police.uk",
        # nz
        "co.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz", "gen.nz", "iwi.nz",
        "maori.nz", "mil.nz", "net.nz", "school.nz", "cri.nz", "health.nz", "parliament.nz",
        # jp
        "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
        # br
        "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
        # in
        "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
        "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
        # za
        "co.za", "org.za", "net.za", "gov.za", "ac.za", "web.za",
        # cn
        "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
        # kr
        "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr", "pe.kr",
        # mx / ar
        "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
        "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
        # sg / hk / tw
        "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg",
        "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk",
        "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw",
        # il / tr / ua
        "co.il", "org.il", "net.il", "gov.il", "ac.il", "muni.il",
        "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "bel.tr",
        "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua",
        # th / id / my / pl
        "co.th", "or.th", "go.th", "ac.th", "in.th",
        "co.id", "or.id", "go.id", "ac.id", "web.id", "sch.id",
        "com.my", "net.my", "org.my", "gov.my", "edu.my",
        "com.pl", "net.pl", "org.pl", "gov.pl", "edu.pl",
    }
)


def make_urls_absolute(url: str, links: list[str]) -> list[str]:
    """Reference semantics (lib.rs:400-417): sort+dedup, resolve each link
    against the page URL (failures keep the original), strip quote marks /
    trailing %dd, sort+dedup again. If the BASE fails to parse, links pass
    through unchanged (after the first sort+dedup)."""
    uniq = sorted(set(links))
    parsed = urlparse(url)
    if not parsed.scheme or not parsed.netloc:
        return uniq
    resolved = []
    for link in uniq:
        try:
            # strip quote marks BEFORE joining too: Python's urljoin drops a
            # trailing ';' (empty-params quirk), which would leave '&quot'
            # unstrippable; the reference strips only after its Url::join,
            # which preserves ';'. Pre+post stripping is idempotent.
            absu = urljoin(url, _QUOTE_MARKS_RE.sub("", link))
            # rust-url renders an empty path as "/" (http://google.com →
            # http://google.com/); mirror that normalization. Rebuild via
            # urlunparse — a substring replace of the netloc can hit an
            # earlier occurrence (e.g. the 'h' of 'http' for host 'h').
            p = urlparse(absu)
            if p.scheme in ("http", "https") and p.netloc and p.path == "":
                absu = urlunparse((p.scheme, p.netloc, "/", p.params, p.query, p.fragment))
            resolved.append(absu)
        except ValueError:
            resolved.append(link)
    cleaned = [_QUOTE_MARKS_RE.sub("", l) for l in resolved]
    return sorted(set(cleaned))


def root_domain(hostname: str) -> str:
    """Registrable root domain (main.rs:333-339 used the `addr` crate's
    PSL; this uses the embedded suffix table). The reference PANICS on an
    invalid hostname (unwrap at main.rs:337) — we return '' instead and
    the pipeline surfaces it as an empty domain_name."""
    if not hostname:
        return ""
    labels = hostname.lower().rstrip(".").split(".")
    if len(labels) < 2:
        return ""
    two = ".".join(labels[-2:])
    if two in _TWO_LABEL_SUFFIXES:
        return ".".join(labels[-3:]) if len(labels) >= 3 else ""
    return two


def absolutize_udf() -> F.Column:
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _abs(urls: pd.Series, links: pd.Series) -> pd.Series:
        return pd.Series(
            [make_urls_absolute(u or "", list(l) if l is not None else []) for u, l in zip(urls, links)]
        )

    return _abs


def root_domain_udf() -> F.Column:
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _root(hosts: pd.Series) -> pd.Series:
        return hosts.map(lambda h: root_domain(h or ""))

    return _root
