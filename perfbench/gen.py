"""Seeded input generators for the benchmark's workloads and its query mix.

Every generator takes the seed as an argument and writes plain files; the
program under test only ever sees those files. The same seed gives
byte-identical files (``digest`` hashes them for the run record) and a
different seed gives different files. Each generator also returns what it
planted, so the benchmark can check the program's outputs against it.

- ``write_warc_corpus``: a gov-crawl-shaped WARC corpus. Page sizes are
  log-normal (a few KB up to ~100 KB) with nav/footer boilerplate shared per
  site template. Planted: non-response records, blacklisted hosts and URLs,
  undecodable gzip members, pages the strict parser rejects, empty bodies
  (the regex fallback) and pages over 2 MB.
- ``write_documents``: ``(doc_id, text)`` documents of 1-10 KB drawn from a
  Zipf vocabulary, with shared boilerplate paragraphs and a planted share
  of exact and near duplicates.
- ``write_url_table``: url_resource-shaped rows (Zipf domains, in-site and
  cross-site links, RAKE-like keyword maps, GA ids) as one parquet file.
"""

from __future__ import annotations

import bisect
import gzip
import hashlib
import io
import itertools
import math
import os
import random
import re
from dataclasses import dataclass, field
from statistics import NormalDist

# A fixed vocabulary, independent of the run seed: stopwords first (they are
# the most frequent words of English text, and RAKE splits phrases on them),
# then pseudo-words built from syllables. Frequencies follow Zipf's law.
_STOP = (
    "the of and to in a is for on that with as by this are be from at or it "
    "an was which will have has not their can all more other been also may "
    "about these into any they its under our such would there between"
).split()
_SYLLABLES = (
    "ab ac ad al am an ar as at ba be bi bo ca ce co da de di do el em en er "
    "es fa fe fi ga ge go ha he hi in is ka ke la le li lo ma me mi mo na ne "
    "ni no or pa pe pi po ra re ri ro sa se si so ta te ti to ul un ur va ve "
    "vi wa we ya"
).split()


def _make_vocab(n: int = 6000) -> list[str]:
    rng = random.Random(20191105)
    words: list[str] = list(_STOP)
    seen = set(words)
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _make_vocab()
_CUM = list(itertools.accumulate(1.0 / (i + 1) ** 1.07 for i in range(len(VOCAB))))

# Agencies whose sites the synthetic crawl visits (www.<agency>.gov.au and
# <agency>.gov.au); none is on the program's blacklists.
AGENCIES = (
    "ato abs aec afp asic dss dva health treasury finance pmc naa nla "
    "bom ga csiro acma accc apra infrastructure industry education employment "
    "homeaffairs defence dfat agriculture environment"
).split()


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=n)


def sentence(rng: random.Random, lo: int = 6, hi: int = 22) -> str:
    ws = _words(rng, rng.randint(lo, hi))
    if len(ws) > 6 and rng.random() < 0.5:
        ws[rng.randrange(2, len(ws) - 2)] += ","
    return " ".join(ws).capitalize() + "."


def paragraph(rng: random.Random, n_chars: int) -> str:
    out: list[str] = []
    size = 0
    while size < n_chars:
        s = sentence(rng)
        out.append(s)
        size += len(s) + 1
    return " ".join(out)


def strata(rng: random.Random, n: int, mu: float, sigma: float, lo: int, hi: int) -> list[int]:
    """``n`` log-normal sizes taken at evenly spaced quantiles, in seeded
    order: every seed gets the same multiset of sizes, so the amount of
    work does not drift with the seed while the content and order do."""
    nd = NormalDist(mu, sigma)
    sizes = [int(min(hi, max(lo, math.exp(nd.inv_cdf((i + 0.5) / n))))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def digest(paths: list[str]) -> str:
    """sha256 over the files' names and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# WARC corpus
# ---------------------------------------------------------------------------

OVERSIZE_BYTES = 2_000_000
# the pipeline's hostname regex (functions.extract.HOSTNAME_PATTERN)
HOST_RE = re.compile(r"://(.*?(\.au|\.com|\.net|\.org)?)(:|/)")


@dataclass
class WarcCorpus:
    files: list[str]
    n_bytes: int
    sha256: str
    expected: dict[str, int]
    # (url, raw_html) of ordinary pages the output check re-derives in-process
    sample: list[tuple[str, str]] = field(default_factory=list)
    # gzip members and WARC bytes of the same sample, for the in-process timing
    sample_members: list[bytes] = field(default_factory=list)
    sample_warc: bytes = b""


def _site_templates(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """(nav, footer) boilerplate shared by every page of a template."""
    out = []
    for t in range(n):
        items = "".join(
            f'<li><a href="/{w}/">{w.capitalize()}</a></li>'
            for w in _words(rng, rng.randint(6, 12))
        )
        nav = f'<nav class="site-nav t{t}"><ul>{items}</ul></nav>\n'
        foot_links = "".join(
            f'<a href="/about/{w}">{w}</a> ' for w in _words(rng, rng.randint(5, 10))
        )
        footer = (
            f'<footer class="t{t}"><p>{paragraph(rng, 400)}</p>\n'
            f"<p>{foot_links}</p>\n<p>{paragraph(rng, 250)}</p></footer>\n"
        )
        out.append((nav, footer))
    return out


def _page_html(rng: random.Random, tpl: tuple[str, str], ga: str, body_chars: int,
               kind: str) -> str:
    nav, footer = tpl
    title = " ".join(_words(rng, rng.randint(3, 8))).title()
    head = [
        "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n",
        "<meta charset=\"utf-8\" />\n" if kind == "xhtml" else "<meta charset=\"utf-8\">\n",
        f"<title>{title}</title>\n",
        f'<meta name="description" content="{sentence(rng)}"',
        " />\n" if kind == "xhtml" else ">\n",
        f'<link rel="stylesheet" href="/static/site.css?v={rng.randint(1, 9)}"',
        " />\n" if kind == "xhtml" else ">\n",
        '<script src="/static/site.js"></script>\n',
        f"<script>ga('create', '{ga}', 'auto'); ga('send', 'pageview');</script>\n",
        "</head>\n<body>\n",
    ]
    parts = head + [nav, f"<main>\n<h1>{title}</h1>\n"]
    size = sum(map(len, parts))
    while size < body_chars:
        h = " ".join(_words(rng, rng.randint(2, 6))).capitalize()
        level = rng.choice((2, 2, 3))
        chunk = [f"<h{level}>{h}</h{level}>\n<p>"]
        for _ in range(rng.randint(2, 6)):
            chunk.append(sentence(rng) + " ")
            r = rng.random()
            if r < 0.35:
                w = _words(rng, 2)
                chunk.append(f'<a href="/{w[0]}/{w[1]}.html">{w[0]} {w[1]}</a> ')
            elif r < 0.45:
                other = rng.choice(AGENCIES)
                chunk.append(f'<a href="https://www.{other}.gov.au/{rng.choice(VOCAB)}">{other}</a> ')
            elif r < 0.5:
                chunk.append(f'<img src="/images/{rng.choice(VOCAB)}.png" alt="{rng.choice(VOCAB)}"')
                chunk.append(" /> " if kind == "xhtml" else "> ")
        chunk.append("</p>\n")
        if kind == "mismatched" and rng.random() < 0.3:
            chunk.append("<div><span>" + sentence(rng) + "</div></span>\n")
        parts.extend(chunk)
        size += sum(map(len, chunk))
    parts += ["</main>\n", footer, "</body>\n</html>\n"]
    return "".join(parts)


def _http(body: bytes, rng: random.Random, aa_domain: str | None = None) -> bytes:
    head = (
        "HTTP/1.1 200 OK\nContent-Type: text/html; charset=utf-8\n"
        f"Server: Apache\nX-Funnelback-Total-Request-Time-MS: {rng.randint(40, 3000)}\n"
    )
    if aa_domain:
        head += f"X-Funnelback-AA-Domain: {aa_domain}\n"
    return head.encode() + b"\n\r\n" + body


def _warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    out = io.BytesIO()
    hdrs = dict(headers)
    hdrs["Content-Length"] = str(len(payload))
    out.write(b"WARC/1.0\r\n")
    for k, v in hdrs.items():
        out.write(f"{k}: {v}\r\n".encode())
    out.write(b"\r\n")
    out.write(payload)
    out.write(b"\r\n\r\n")
    return out.getvalue()


def write_warc_corpus(out_dir: str, seed: int, n_pages: int, n_files: int,
                      sample_size: int = 24) -> WarcCorpus:
    """Write ``n_files`` WARC files holding ``n_pages`` response records plus
    planted records; return what was planted."""
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out_dir, exist_ok=True)
    from warcraider_spark.functions.extract import (  # blacklists are data
        HOSTNAME_BLACKLIST,
        URL_BLACKLIST,
        URL_SUBSTRING_BLACKLIST,
    )

    templates = _site_templates(rng, 6)
    hosts = [f"www.{a}.gov.au" for a in AGENCIES] + [f"{a}.gov.au" for a in AGENCIES[:8]]
    host_w = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(hosts))))
    ga_ids = [f"UA-{rng.randint(10000, 99999999)}-{rng.randint(1, 9)}" for _ in range(24)]

    n_bad_gzip = max(2, n_pages // 60)
    n_empty = max(2, n_pages // 80)
    n_oversize = 2
    n_host_bl = max(2, n_pages // 50)
    n_url_bl = 2
    n_sub_bl = 2
    n_nonresp = max(3, n_pages // 30)
    # record kinds, shuffled into one stream then dealt round-robin to files
    kinds = (
        ["page"] * (n_pages - n_bad_gzip - n_empty - n_oversize)
        + ["bad_gzip"] * n_bad_gzip + ["empty"] * n_empty + ["oversize"] * n_oversize
        + ["host_bl"] * n_host_bl + ["url_bl"] * n_url_bl + ["sub_bl"] * n_sub_bl
        + ["nonresp"] * n_nonresp
    )
    rng.shuffle(kinds)
    sizes = iter(strata(rng, sum(k not in ("nonresp", "empty", "oversize") for k in kinds),
                        9.3, 0.8, 2_500, 100_000))
    buffers = [io.BytesIO() for _ in range(n_files)]
    expected = dict(records_in=0, responses=0, post_blacklist=0, gzip_ok=0,
                    parse_fallback=0, oversize=0, rows_out=0)
    sample: list[tuple[str, str]] = []
    sample_members: list[bytes] = []
    sample_warc = io.BytesIO()
    page_no = 0
    n_big = 0
    for i, kind in enumerate(kinds):
        buf = buffers[i % n_files]
        if kind == "oversize":  # one per file, so no task gets two
            buf = buffers[n_big % n_files]
            n_big += 1
        expected["records_in"] += 1
        if kind == "nonresp":
            wtype = rng.choice(("request", "metadata", "warcinfo"))
            hdrs = {"WARC-Type": wtype, "WARC-Date": "2019-11-05T00:00:00Z"}
            if wtype != "warcinfo":
                hdrs["WARC-Target-URI"] = f"https://{rng.choice(hosts)}/x/{i}"
            buf.write(_warc_record(hdrs, f"GET /x/{i} HTTP/1.1\r\nHost: x\r\n".encode()))
            continue
        expected["responses"] += 1
        host = hosts[bisect.bisect_left(host_w, rng.random() * host_w[-1])]
        page_no += 1
        path = "/".join(_words(rng, rng.randint(1, 3)))
        url = f"https://{host}/{path}/{page_no}"
        if kind == "host_bl":
            url = f"https://{rng.choice(HOSTNAME_BLACKLIST)}/{path}/{page_no}"
        elif kind == "url_bl":
            url = rng.choice(URL_BLACKLIST)
        elif kind == "sub_bl":
            url = f"https://www.{rng.choice(URL_SUBSTRING_BLACKLIST)}/{page_no}"
        blacklisted = kind in ("host_bl", "url_bl", "sub_bl")
        m = HOST_RE.search(url)
        regex_host = m.group(1) if m else ""
        if not blacklisted and (
            regex_host in HOSTNAME_BLACKLIST or url in URL_BLACKLIST
            or any(s in url for s in URL_SUBSTRING_BLACKLIST)
        ):
            raise RuntimeError(f"generator drew a blacklisted url: {url}")
        tpl = templates[AGENCIES.index(host.split(".")[-3]) % len(templates)] \
            if host.count(".") >= 3 else templates[0]
        ga = ga_ids[sum(map(ord, host)) % len(ga_ids)]
        if kind == "empty":
            html = ""
        elif kind == "oversize":
            # a page over 2 MB, mostly one inline data blob without
            # whitespace (the shape of an embedded base64 image)
            blob = "".join(rng.choices("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/",
                                       k=OVERSIZE_BYTES + 20_000))
            html = (f"<html><head><title>{url}</title></head><body><p>{paragraph(rng, 800)}</p>"
                    f'<img src="data:image/png;base64,{blob}"></body></html>\n')
        else:
            body_chars = next(sizes)
            style = rng.random()
            page_kind = "xhtml" if style < 0.15 else ("mismatched" if style < 0.3 else "html")
            html = _page_html(rng, tpl, ga, body_chars, page_kind)
        aa = f"aa.{host}" if rng.random() < 0.05 else None
        http = _http(html.encode(), rng, aa)
        member = gzip.compress(http, compresslevel=6, mtime=0)
        if kind == "bad_gzip":
            member = member[: len(member) // 2]  # truncated member: gunzip fails
        hdrs = {
            "WARC-Type": "response",
            "WARC-Date": "2019-11-05T00:00:00Z",
            "WARC-Target-URI": url,
            "Uncompressed-Content-Length": str(len(http)),
        }
        record = _warc_record(hdrs, member)
        buf.write(record)
        if blacklisted:
            continue
        expected["post_blacklist"] += 1
        if kind == "bad_gzip":
            continue
        expected["gzip_ok"] += 1
        expected["rows_out"] += 1
        if kind == "oversize":
            expected["oversize"] += 1
            expected["parse_fallback"] += 1
        elif kind == "empty":
            expected["parse_fallback"] += 1
        elif len(sample) < sample_size and rng.random() < 0.25:
            sample.append((url, html))
            sample_members.append(member)
            sample_warc.write(record)
    files = []
    for f, buf in enumerate(buffers):
        p = os.path.join(out_dir, f"crawl-{f:03d}.warc")
        with open(p, "wb") as fh:
            fh.write(buf.getvalue())
        files.append(p)
    return WarcCorpus(
        files=files,
        n_bytes=sum(os.path.getsize(p) for p in files),
        sha256=digest(files),
        expected=expected,
        sample=sample,
        sample_members=sample_members,
        sample_warc=sample_warc.getvalue(),
    )


# ---------------------------------------------------------------------------
# Documents for the dedup operators
# ---------------------------------------------------------------------------


@dataclass
class DocCorpus:
    path: str
    n_docs: int
    n_chars: int
    sha256: str
    # source doc_id -> doc_ids that are exact copies of it
    exact: dict[int, list[int]]
    # (source, near-duplicate) pairs: one sentence edited per paragraph
    near: list[tuple[int, int]]


def _document(rng: random.Random, boiler: list[str], n_chars: int) -> str:
    """Site header, body paragraphs, site footer. The header and footer are
    in every document, so their fingerprints are too common to pair
    documents (the operators cap fingerprint document frequency)."""
    paras: list[str] = [boiler[0]]
    size = len(boiler[0]) + len(boiler[1])
    while size < n_chars:
        p = paragraph(rng, rng.randint(100, 300))
        paras.append(p)
        size += len(p) + 2
    paras.append(boiler[1])
    return "\n\n".join(paras)


def _near_copy(rng: random.Random, text: str) -> str:
    """Replace one sentence in every third paragraph: long verbatim runs
    survive, so a winnowing detector must pair it with its source."""
    paras = text.split("\n\n")
    for i in range(0, len(paras), 3):
        sents = paras[i].split(". ")
        j = rng.randrange(len(sents))
        sents[j] = sentence(rng).rstrip(".")
        paras[i] = ". ".join(sents)
    return "\n\n".join(paras)


def write_documents(path: str, seed: int, n_docs: int) -> DocCorpus:
    """Write ``(doc_id bigint, text string)`` rows to one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 104729 + 2)
    boiler = [paragraph(rng, 180) for _ in range(2)]
    n_exact_src = max(2, n_docs // 25)
    n_near = max(2, n_docs // 25)
    n_fresh = n_docs - 2 * n_exact_src - n_near
    texts: list[str] = []
    for n_chars in strata(rng, n_fresh, 6.9, 0.5, 1_000, 10_000):
        texts.append(_document(rng, boiler, n_chars))
    exact: dict[int, list[int]] = {}
    near: list[tuple[int, int]] = []
    # duplicate sources come from the middle third of the length order, so
    # the corpus size does not swing with which documents get copied
    by_len = sorted(range(n_fresh), key=lambda i: len(texts[i]))
    sources = rng.sample(by_len[n_fresh // 3: 2 * n_fresh // 3], n_exact_src + n_near)
    for src in sources[:n_exact_src]:
        exact[src] = [len(texts)]
        texts.append(texts[src])
        # every other source gets a second copy
        if len(exact) % 2 == 0:
            exact[src].append(len(texts))
            texts.append(texts[src])
    for src in sources[n_exact_src:]:
        near.append((src, len(texts)))
        texts.append(_near_copy(rng, texts[src]))
    while len(texts) < n_docs:
        texts.append(_document(rng, boiler, 1_000))
    # doc ids are a seeded permutation, so copies are not adjacent
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    exact = {ids[s]: [ids[c] for c in cs] for s, cs in exact.items()}
    near = [(ids[s], ids[c]) for s, c in near]
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    pq.write_table(table, path, compression="snappy")
    return DocCorpus(path=path, n_docs=len(texts), n_chars=sum(map(len, texts)),
                     sha256=digest([path]), exact=exact, near=near)


# ---------------------------------------------------------------------------
# url_resource-shaped table for the query mix
# ---------------------------------------------------------------------------


@dataclass
class UrlTable:
    path: str
    n_rows: int
    n_bytes: int
    sha256: str
    point_domain: str


def write_url_table(path: str, seed: int, n_rows: int, n_sources: int = 8) -> UrlTable:
    """Write url_resource rows to one parquet file (unsorted); the benchmark
    feeds it to the program's sink. Text fields are drawn from seeded pools
    so that generating tens of thousands of rows stays cheap."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 15485863 + 3)
    nrng = np.random.default_rng(seed * 15485863 + 3)
    domains = [f"{a}.gov.au" for a in AGENCIES] + [
        f"{w}.gov.au" for w in rng.sample(VOCAB[200:], 50)
    ]
    dom_p = 1.0 / np.arange(1, len(domains) + 1) ** 0.9
    ga_pool = [f"UA-{rng.randint(10000, 99999999)}-{rng.randint(1, 9)}" for _ in range(150)]
    sents = [sentence(rng) for _ in range(3000)]
    phrases = [" ".join(_words(rng, rng.randint(1, 3))) for _ in range(4000)]
    titles = [" ".join(_words(rng, rng.randint(3, 8))).title() for _ in range(2000)]

    dom = nrng.choice(len(domains), n_rows, p=dom_p / dom_p.sum())
    leaf = nrng.integers(0, len(VOCAB), n_rows)
    urls = [f"https://www.{domains[d]}/{VOCAB[w]}/{i}" for i, (d, w) in enumerate(zip(dom, leaf))]
    # link targets: in-table urls with Zipf popularity, plus off-table pdfs
    pop = nrng.permutation(n_rows)
    pop_p = 1.0 / np.arange(1, n_rows + 1) ** 0.8
    n_links = nrng.integers(2, 25, n_rows)
    targets = pop[nrng.choice(n_rows, int(n_links.sum()), p=pop_p / pop_p.sum())]
    offtable = nrng.random(int(n_links.sum())) < 0.2
    n_sent = nrng.integers(2, 7, n_rows)
    sent_idx = nrng.integers(0, len(sents), int(n_sent.sum()))
    n_kw = nrng.integers(3, 11, n_rows)
    kw_idx = nrng.integers(0, len(phrases), int(n_kw.sum()))
    kw_score = nrng.integers(1, 65, int(n_kw.sum())).astype(np.float32) / 4.0
    second_ga = nrng.random(n_rows) < 0.2
    ga_extra = nrng.integers(0, len(ga_pool), n_rows)

    cols: dict[str, list] = {k: [] for k in (
        "text_content", "links", "keywords", "google_analytics", "google_analytics_config")}
    lo = so = ko = 0
    for i in range(n_rows):
        d = domains[dom[i]]
        k = int(n_links[i])
        links = {
            f"https://www.{d}/{VOCAB[int(t) % len(VOCAB)]}.pdf" if off else urls[int(t)]
            for t, off in zip(targets[lo:lo + k], offtable[lo:lo + k])
        }
        lo += k
        k = int(n_sent[i])
        text = " ".join(sents[j] for j in sent_idx[so:so + k])
        so += k
        k = int(n_kw[i])
        kw = dict(zip((phrases[j] for j in kw_idx[ko:ko + k]), kw_score[ko:ko + k].tolist()))
        ko += k
        ga = {ga_pool[sum(map(ord, d)) % len(ga_pool)]}
        if second_ga[i]:
            ga.add(ga_pool[ga_extra[i]])
        ga = sorted(ga)
        cols["text_content"].append(text)
        cols["links"].append(sorted(links))
        cols["keywords"].append(list(kw.items()))
        cols["google_analytics"].append(ga)
        cols["google_analytics_config"].append([f"'create', '{ga[0]}', 'auto'"])
    word_count = [len(t.split()) for t in cols["text_content"]]
    s = pa.string()
    table = pa.table({
        "url": pa.array(urls, s),
        "hostname": pa.array([f"www.{domains[d]}" for d in dom], s),
        "domain_name": pa.array([domains[d] for d in dom], s),
        "size_bytes": pa.array(nrng.integers(2_000, 120_000, n_rows).astype(np.int32)),
        "load_time": pa.array((nrng.integers(40, 3000, n_rows) / 1000.0).astype(np.float32)),
        "title": pa.array([titles[j] for j in nrng.integers(0, len(titles), n_rows)], s),
        "text_content": pa.array(cols["text_content"], s),
        "headings_text": pa.array([phrases[j] for j in nrng.integers(0, len(phrases), n_rows)], s),
        "word_count": pa.array(word_count, pa.int32()),
        "links": pa.array(cols["links"], pa.list_(s)),
        "resource_urls": pa.array([[f"https://www.{domains[d]}/static/site.css"] for d in dom],
                                  pa.list_(s)),
        "keywords": pa.array(cols["keywords"], pa.map_(s, pa.float32())),
        "meta_tags": pa.array([[("description", sents[j])] for j in
                               nrng.integers(0, len(sents), n_rows)], pa.map_(s, s)),
        "headers": pa.array([[("Content-Type", "text/html"), ("Server", "Apache")]] * n_rows,
                            pa.map_(s, s)),
        "google_analytics": pa.array(cols["google_analytics"], pa.list_(s)),
        "google_analytics_config": pa.array(cols["google_analytics_config"], pa.list_(s)),
        "html_errors": pa.array(np.where(nrng.random(n_rows) < 0.2, "",
                                         "line 1 column 1 - Warning: x").tolist(), s),
        "source": pa.array([f"crawl-{j:03d}.warc" for j in nrng.integers(0, n_sources, n_rows)], s),
    })
    pq.write_table(table, path, compression="snappy")
    return UrlTable(path=path, n_rows=n_rows, n_bytes=os.path.getsize(path),
                    sha256=digest([path]), point_domain=domains[3])
