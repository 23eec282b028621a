"""Digest of ``parse_html_py`` output, to show an HTML-parse change is
byte-identical.

Two inputs:
- every response page of at most 2 MB in the perfbench WARC corpus
  (``perfbench/gen.py::write_warc_corpus(seed, 160, 8)``) for seeds 1-3,
  split from its HTTP headers the way the pipeline splits it;
- 20,000 seeded random strings over the parser's trigger alphabet, drawn
  as single characters and markup fragments such as '<script>' and '<!--'.

For each input it prints the document count, the sha256 of
``json.dumps(parse_html_py(doc), sort_keys=True)`` over all documents,
the count of each ``parse_path`` leg, the sha256 of the per-document
``parse_path`` sequence, and how many documents ``parse_path`` agrees on
with ``strict_parse_ok`` and ``quickxml_fatal_hazard``. Equal lines at
two commits mean equal output and an equal leg on every document.

Usage (from any directory):

    python tools/parse_digest.py                 # this checkout
    python tools/parse_digest.py --root DIR      # warcraider_spark from DIR
"""

from __future__ import annotations

import argparse
import collections
import gzip
import hashlib
import json
import os
import random
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = (1, 2, 3)
N_FUZZ = 20_000
FUZZ_ALPHABET = "<>!-'\"/scriptnoyleamf D[CDATA]=hrefp \n"
MAX_PAGE_CHARS = 2_000_000  # the pipeline's oversize guard


def corpus_pages(seed: int, work: str) -> list[str]:
    """HTTP bodies of the corpus's decompressable response records."""
    from perfbench import gen
    from warcraider_spark.sources.warc import parse_warc_stream

    corpus = gen.write_warc_corpus(os.path.join(work, f"seed{seed}"), seed, 160, 8)
    pages = []
    for path in corpus.files:
        with open(path, "rb") as fh:
            data = fh.read()
        for _version, headers, content in parse_warc_stream(data):
            if headers.get("WARC-Type") != "response":
                continue
            try:
                text = gzip.decompress(content).decode("utf-8", errors="replace")
            except (OSError, EOFError):
                continue  # truncated member: the pipeline drops it too
            if len(text) > MAX_PAGE_CHARS:
                continue
            pages.append(" ".join(text.split("\n\r\n")[1:]))
    return pages


# markup fragments over FUZZ_ALPHABET, so random strings reach every leg
# (a '<script>' region is what makes a page soup)
FRAGMENTS = (
    "<script>", "</script>", "<style>", "</style>", "<noscript>", "<!--", "-->",
    "--!>", "<![CDATA[", "]]>", "<!D", "<!", "<a href='", "<a href=\"", "<p>", "</p>",
)


def fuzz_strings() -> list[str]:
    rng = random.Random(20_000)
    docs = []
    for _ in range(N_FUZZ):
        k = rng.randint(0, 40)
        docs.append("".join(
            rng.choice(FRAGMENTS) if rng.random() < 0.3 else rng.choice(FUZZ_ALPHABET)
            for _ in range(k)
        ))
    return docs


def digest(label: str, docs: list[str]) -> str:
    from warcraider_spark.functions.html import (
        parse_html_py,
        parse_path,
        quickxml_fatal_hazard,
        strict_parse_ok,
    )

    out = hashlib.sha256()
    paths = hashlib.sha256()
    legs: collections.Counter[str] = collections.Counter()
    agree = 0
    for doc in docs:
        out.update(json.dumps(parse_html_py(doc), sort_keys=True).encode())
        out.update(b"\n")
        leg = parse_path(doc)
        legs[leg] += 1
        paths.update(leg.encode() + b"\n")
        strict_agrees = strict_parse_ok(doc) == (leg == "strict")
        agree += strict_agrees and quickxml_fatal_hazard(doc) == (leg == "soup")
    counts = " ".join(f"{k}={legs[k]}" for k in ("strict", "tidy", "soup"))
    return (
        f"{label}: docs={len(docs)} parse_html_py={out.hexdigest()} "
        f"paths[{counts}]={paths.hexdigest()[:16]} path_agrees={agree}/{len(docs)}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=REPO, help="checkout whose warcraider_spark is digested")
    args = ap.parse_args()
    # --root first: its warcraider_spark is the one digested
    sys.path[:0] = [os.path.abspath(args.root), REPO]
    import warcraider_spark

    print(f"warcraider_spark: {os.path.dirname(warcraider_spark.__file__)}")
    with tempfile.TemporaryDirectory(prefix="parse_digest_") as work:
        pages = [p for seed in SEEDS for p in corpus_pages(seed, work)]
    print(digest("corpus seeds 1-3", pages))
    print(digest("fuzz", fuzz_strings()))


if __name__ == "__main__":
    main()
