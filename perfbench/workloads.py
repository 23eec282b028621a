"""The two workloads: what each generates, the op its timed phase
repeats, and how its outputs are checked; and the query mix the traced
run of ``warc_etl`` times on the sink's layout.

A workload is driven by ``run.py``: ``generate`` runs in set-up, ``ops``
yields the ops of one pass (each op is timed on its own), ``after_op``
runs after each op outside its timing, and ``check`` runs after the timed
phase. Every call into the program is wrapped in a span.
"""

from __future__ import annotations

import gzip
import os
import re
import shutil
import statistics
import time

import gen
import queries as Q

# the success path's whitespace quirk (functions.extract.WHITESPACE_RUN_PATTERN)
WS_RUN_RE = re.compile(r"(\s|\\n){2,}")
# the query mix's table and how often each query runs on it
QUERY_ROWS = 20_000
QUERY_REPS = 3


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return b, n


class Workload:
    name = ""
    nominal_pass_s = 1.0
    min_passes = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}

    def n_passes(self, seconds: float) -> int:
        """Timed passes: ``seconds`` over the nominal time of one pass on a
        4-vCPU host, so the amount of timed work is fixed by the arguments
        and never by how fast the program happened to be."""
        return max(self.min_passes, round(seconds / self.nominal_pass_s))

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def after_op(self, timed: bool) -> None:
        """Runs after each op, outside its timing."""


# ---------------------------------------------------------------------------


class WarcEtl(Workload):
    """WARC bytes → url_resource rows → partitioned parquet: the paper's
    workload. The four Python crossings and the sink do the work."""

    name = "warc_etl"
    nominal_pass_s = 5.0
    min_passes = 2
    N_PAGES = 160
    N_FILES = 8

    def generate(self, seed: int) -> dict:
        c = self.ctx
        self.corpus = gen.write_warc_corpus(os.path.join(c.work, "warc"), seed,
                                            self.N_PAGES, self.N_FILES)
        self.out = os.path.join(c.work, "url_resource")
        self.obs: list[dict] = []
        self.sink: list[tuple[int, int]] = []
        return {"sha256": self.corpus.sha256, "bytes": self.corpus.n_bytes,
                "records": self.corpus.expected["records_in"]}

    def items_per_pass(self) -> int:
        return self.corpus.expected["records_in"]

    def bytes_per_pass(self) -> int:
        return self.corpus.n_bytes

    def ops(self):
        yield "etl_pass", self._etl

    def _etl(self) -> None:
        from warcraider_spark.plans.pipeline import (
            url_resource_from_warc_records,
            write_url_resource,
        )
        from warcraider_spark.sources.warc import read_warc_auto

        c = self.ctx
        metrics: dict = {}
        with c.tracer.span("sources.warc.read_warc_auto"):
            records = read_warc_auto(c.spark, os.path.dirname(self.corpus.files[0]))
        with c.tracer.span("plans.pipeline.url_resource_from_warc_records"):
            df = url_resource_from_warc_records(records, metrics=metrics)
        with c.tracer.span("plans.pipeline.write_url_resource"):
            write_url_resource(df, self.out, fmt="parquet")
        self._last_metrics = metrics

    def after_op(self, timed: bool) -> None:
        m, self._last_metrics = getattr(self, "_last_metrics", None), None
        if m is None or not timed:
            return
        g = {k: v.get for k, v in m.items()}
        self.obs.append({
            "records_in": g["input"]["n_records"],
            "responses": g["responses"]["n_responses"],
            "post_blacklist": g["post_blacklist"]["n_kept"],
            "gzip_ok": g["decompressed"]["n_ok_gzip"],
            "parse_fallback": g["parsed"]["n_parse_fallback"],
            "oversize": g["parsed"]["n_oversize"],
            "rows_out": g["parsed"]["n_rows"],
        })
        self.sink.append(dir_bytes(self.out))

    def out_bytes_per_in_byte(self) -> float:
        return statistics.median(b for b, _ in self.sink) / self.corpus.n_bytes

    def check(self) -> int:
        """Observation counts equal what the generator planted, and a fixed
        sample of output rows of the last pass equals the in-process
        kernels' result. Returns the number of passes whose output failed."""
        import pyarrow.dataset as ds

        from warcraider_spark.functions.html import parse_html_py
        from warcraider_spark.functions.rake import rake_text
        from warcraider_spark.functions.urls import make_urls_absolute, root_domain

        exp = self.corpus.expected
        bad = set()
        for i, o in enumerate(self.obs):
            if o != exp:
                bad.add(i)
                self.fail(f"pass {i} observation counts {o} != planted {exp}")
        n_failed = len(self.failures)
        t = ds.dataset(self.out, format="parquet", partitioning="hive").to_table()
        if t.num_rows != exp["rows_out"]:
            self.fail(f"output has {t.num_rows} rows, planted {exp['rows_out']}")
        urls = t.column("url").to_pylist()
        rows = {u: i for i, u in enumerate(urls)}
        cols = {k: t.column(k) for k in (
            "title", "text_content", "headings_text", "links", "resource_urls",
            "keywords", "meta_tags", "html_errors", "domain_name")}
        for url, html in self.corpus.sample:
            if url not in rows:
                self.fail(f"sample page {url} missing from output")
                continue
            i = rows[url]
            got = {k: v[i].as_py() for k, v in cols.items()}
            for k in ("keywords", "meta_tags"):
                got[k] = dict(got[k])
            r = parse_html_py(html)
            text = WS_RUN_RE.sub("", " ".join(r["text"]))
            want = {
                "title": r["title"],
                "text_content": text,
                "headings_text": " ".join(r["headings_text"]),
                "links": make_urls_absolute(url, r["links"]),
                "resource_urls": make_urls_absolute(url, r["resource_urls"]),
                "keywords": rake_text(text),
                "meta_tags": r["meta_tags"],
                "html_errors": r["html_errors"],
                "domain_name": root_domain(gen.HOST_RE.search(url).group(1)),
            }
            for k in want:
                if got[k] != want[k]:
                    self.fail(f"{url}: column {k} differs from the in-process kernels")
                    break
        if len(self.failures) > n_failed:
            bad.add(len(self.obs) - 1)
        return len(bad)


# ---------------------------------------------------------------------------


class CrawlDedup(Workload):
    """The LLM-data operators on web-page-length documents: the winnowing
    selector and pair kernels do the work, no HTML is parsed."""

    name = "crawl_dedup"
    nominal_pass_s = 7.5
    min_passes = 2
    # more than the operators' fingerprint document-frequency cap (64), so
    # boilerplate shared by every document cannot pair them
    N_DOCS = 68

    def generate(self, seed: int) -> dict:
        self.docs = gen.write_documents(os.path.join(self.ctx.work, "docs.parquet"), seed,
                                        self.N_DOCS)
        self.family: list = []
        self.kept_ratio = 0.0
        return {"sha256": self.docs.sha256, "bytes": self.docs.n_chars, "docs": self.docs.n_docs}

    def items_per_pass(self) -> int:
        return self.docs.n_docs

    def bytes_per_pass(self) -> int:
        return self.docs.n_chars

    def _frame(self):
        return self.ctx.spark.read.parquet(self.docs.path)

    def ops(self):
        from warcraider_spark.operators.dedup import (
            cdc_chunks,
            exact_substring_excision,
            winnowing_family,
        )
        from warcraider_spark.operators.text import gopher_repetition_table, gopher_rule_table

        w = self.ctx.width
        chain = (
            ("operators.dedup.winnowing_family",
             lambda d: winnowing_family(d, spread_partitions=w)),
            ("operators.dedup.exact_substring_excision",
             lambda d: exact_substring_excision(d, spread_partitions=w)),
            ("operators.dedup.cdc_chunks", cdc_chunks),
            ("operators.text.gopher_rule_table", gopher_rule_table),
            ("operators.text.gopher_repetition_table", gopher_repetition_table),
        )
        # winnowing_family's output is one small row per document: it is
        # collected (for the check) instead of going to the noop sink
        yield chain[0][0], self._collect(*chain[0])
        for name, fn in chain[1:]:
            yield name, self._noop(name, fn)

    def _collect(self, name, fn):
        def op() -> None:
            with self.ctx.tracer.span(name):
                self._rows = fn(self._frame()).collect()
        return op

    def after_op(self, timed: bool) -> None:
        rows = getattr(self, "_rows", None)
        if timed and rows is not None:
            self.family.append(rows)
        self._rows = None

    def _noop(self, name, fn):
        def op() -> None:
            with self.ctx.tracer.span(name):
                fn(self._frame()).write.format("noop").mode("overwrite").save()
        return op

    def check(self) -> int:
        """In every timed winnowing_family result, every planted exact copy
        is flagged and clustered with its source. Near-duplicate recall and
        excision totals are recorded. Returns the number of failed results."""
        bad = 0
        for rows in self.family:
            n_failed = len(self.failures)
            self._check_family(rows)
            bad += len(self.failures) > n_failed
        return bad

    def _check_family(self, rows) -> None:
        by_id = {r["doc_id"]: r for r in rows}
        if len(by_id) != self.docs.n_docs:
            self.fail(f"winnowing_family returned {len(by_id)} docs of {self.docs.n_docs}")
            return
        planted = flagged = 0
        for src, copies in self.docs.exact.items():
            group = [src, *copies]
            sizes = {by_id[d]["cluster_size"] for d in group}
            canon = sum(bool(by_id[d]["is_canonical"]) for d in group)
            if len(sizes) != 1 or min(sizes) < len(group) or canon > 1:
                self.fail(f"exact copies {group} not clustered together: sizes {sizes}, "
                          f"{canon} canonical")
            planted += len(copies)
            flagged += sum(by_id[d]["cluster_size"] >= 2 for d in copies)
        for _, near in self.docs.near:
            planted += 1
            flagged += by_id[near]["cluster_size"] >= 2
        removed = sum(r["chars_removed"] for r in rows)
        self.layer.update({
            "operators.dedup.pairs": float(sum((r["cluster_size"] - 1) / 2 for r in rows)),
            "operators.dedup.chars_removed": float(removed),
            "operators.dedup.dup_recall": flagged / planted,
        })
        self.kept_ratio = 1.0 - removed / self.docs.n_chars

    def out_bytes_per_in_byte(self) -> float:
        return self.kept_ratio


# ---------------------------------------------------------------------------


WORKLOADS = {w.name: w for w in (WarcEtl, CrawlDedup)}


def query_layer(ctx, seed: int, wl: Workload) -> tuple[int, int]:
    """The query surface the reference handed to BigQuery, on the layout
    the program's sink writes: a seeded url_resource-shaped table goes
    through ``write_url_resource``, then each query of the mix runs
    QUERY_REPS times (Spark job group ``queries``) and every result is
    hash-checked against DuckDB over the same files. Timings go to
    ``wl.layer``; returns (queries run, results that failed)."""
    from warcraider_spark.oracle import compare
    from warcraider_spark.plans.pipeline import write_url_resource

    src = gen.write_url_table(os.path.join(ctx.work, "rows.parquet"), seed, QUERY_ROWS)
    table = os.path.join(ctx.work, "url_resource_q")
    sc = ctx.spark.sparkContext
    sc.setJobGroup("setup.sink", "write_url_resource")
    with ctx.tracer.span("plans.pipeline.write_url_resource"):
        write_url_resource(ctx.spark.read.parquet(src.path), table, fmt="parquet")
    wl.query_table_bytes = dir_bytes(table)[0]
    n = bad = 0
    for name in Q.QUERIES:
        times, results = [], []
        for rep in range(QUERY_REPS):
            sc.setJobGroup("queries", f"queries.{name} {rep}")
            n += 1
            t = time.perf_counter()
            try:
                with ctx.tracer.span(f"queries.{name}"):
                    results.append(Q.run_spark(ctx.spark, table, name, src.point_domain))
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                bad += 1
                wl.fail(f"queries.{name} {rep} raised {type(exc).__name__}: {str(exc)[:300]}")
            times.append(time.perf_counter() - t)
        wl.layer[f"queries.{name}_s"] = statistics.median(times)
        with ctx.tracer.span(f"check.{name}"):
            want = Q.run_duckdb(table, name, src.point_domain)
            for rep, pdf in enumerate(results):
                r = compare(name, pdf, want)
                if not r.ok:
                    bad += 1
                    wl.fail(f"queries.{name} {rep}: {r.detail[:300]}")
    return n, bad


# ---------------------------------------------------------------------------
# In-process kernel timing (traced run only)
# ---------------------------------------------------------------------------


def kernel_timings(work: str, seed: int, tracer) -> dict[str, float]:
    """Time the kernels the ETL's Python crossings call, in this process,
    on a fixed seeded sample of pages."""
    from warcraider_spark.functions.html import parse_html_py
    from warcraider_spark.functions.rake import rake_text
    from warcraider_spark.functions.urls import make_urls_absolute, root_domain
    from warcraider_spark.sources.warc import parse_warc_stream

    c = gen.write_warc_corpus(os.path.join(work, "kernel_sample"), seed, 120, 1, sample_size=24)
    pages = c.sample
    n = len(pages)
    kb = sum(len(h.encode()) for _, h in pages) / 1e3
    reps = 3

    def best(fn) -> float:
        out = float("inf")
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            out = min(out, time.perf_counter() - t)
        return out

    with tracer.span("kernel.parse_warc_stream"):
        split = best(lambda: sum(1 for _ in parse_warc_stream(c.sample_warc)))
    with tracer.span("kernel.gunzip"):
        gz = best(lambda: [gzip.decompress(m) for m in c.sample_members])
    parsed = [parse_html_py(h) for _, h in pages]
    with tracer.span("kernel.parse_html_py"):
        parse = best(lambda: [parse_html_py(h) for _, h in pages])
    def urls() -> None:
        for (u, _), r in zip(pages, parsed):
            make_urls_absolute(u, r["links"])
            make_urls_absolute(u, r["resource_urls"])
            root_domain(gen.HOST_RE.search(u).group(1))

    with tracer.span("kernel.make_urls_absolute"):
        absu = best(urls)
    texts = [WS_RUN_RE.sub("", " ".join(r["text"])) for r in parsed]
    with tracer.span("kernel.rake_text"):
        rake = best(lambda: [rake_text(t) for t in texts])
    shutil.rmtree(os.path.join(work, "kernel_sample"), ignore_errors=True)
    ms = 1e3 / n
    return {
        "sources.warc.split_ms_per_record": split * ms,
        "plans.pipeline.gunzip_ms_per_record": gz * ms,
        "functions.html.parse_ms_per_page": parse * ms,
        "functions.html.parse_ms_per_kb": parse * 1e3 / kb,
        "functions.urls.absolutize_ms_per_page": absu * ms,
        "functions.rake.rake_ms_per_page": rake * ms,
    }
