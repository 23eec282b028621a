"""RAKE keyword extraction (SURVEY §2.6, §3.3).

Reference: /root/reference/src/rake/rake.rs:25-96 (phrase split + scoring),
inner.rs:4-14 (number exclusion), keyword.rs:28-54 (sort), lib.rs:386-399
(f32 map).

RAKE is per document, so it runs map-side with no shuffle: one kernel,
``rake_scores``, inside an Arrow-batched pandas UDF (``rake_keywords_udf``).
Reference semantics: Unicode punctuation phrase split ``[^\\P{P}-]|\\s+-\\s+``,
stop-word phrase breaks (lowercased compare), number-token exclusion
(substring match of ``-?\\p{N}+[./٫,']?\\p{N}*``), duplicate-phrase
last-wins. The kernel keeps double-precision scores; the reference's f32
map is applied where the row leaves the engine — the ETL casts the UDF's
``map<string,double>`` to ``map<string,float>`` (``plans/pipeline.py``),
and ``rake_text`` is the same rounding in Python. q043 reads the doubles
so its DuckDB oracle can round them to 4 places without f32 drift.
"""

from __future__ import annotations

import re
import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.types import DoubleType, MapType, StringType

from warcraider_spark.functions.stopwords import SMART_STOPWORDS

try:  # Unicode property classes need `regex`; stdlib `re` lacks \p{}
    import regex as _re

    PUNC_RE = _re.compile(r"[^\P{P}-]|\s+-\s+")
    NUM_RE = _re.compile(r"-?\p{N}+[./٫,']?\p{N}*")
except ImportError:  # pragma: no cover - regex is available in this env
    import re as _re

    PUNC_RE = _re.compile(r"[^\w\s-]|\s+-\s+")
    NUM_RE = _re.compile(r"-?\d+[./٫,']?\d*")

# Words are runs between Unicode White_Space (Rust ``split_whitespace``,
# rake.rs:81). ``str.split()`` would also split at U+001C–U+001F, which
# ``str.isspace`` counts as space but White_Space does not.
WORD_RE = re.compile(r"[\S\x1c-\x1f]+")

__all__ = ["rake_scores", "rake_text", "rake_keywords_udf"]


def rake_scores(text: str) -> dict[str, float]:
    """Reference RAKE on one document → {keyword: double score}."""
    if not text:
        return {}
    phrases: list[list[str]] = []
    for segment in PUNC_RE.split(text):
        if not segment:
            continue
        phrase: list[str] = []
        for word in WORD_RE.findall(segment):
            if word.lower() in SMART_STOPWORDS:
                if phrase:
                    phrases.append(phrase)
                    phrase = []
            else:
                phrase.append(word)
        if phrase:
            phrases.append(phrase)

    word_freq: dict[str, int] = {}
    word_degree: dict[str, int] = {}
    for phrase in phrases:
        scorable = [w for w in phrase if not NUM_RE.search(w)]
        if not scorable:
            continue
        for w in scorable:
            word_freq[w] = word_freq.get(w, 0) + 1
            word_degree[w] = word_degree.get(w, 0) + len(scorable) - 1
    word_score = {w: (word_degree[w] + f) / f for w, f in word_freq.items()}

    keywords: dict[str, float] = {}
    for phrase in phrases:
        # an all-number phrase still emits its keyword, scored 0.0
        score = sum((word_score[w] for w in phrase if not NUM_RE.search(w)), 0.0)
        keywords[" ".join(phrase)] = score  # last-wins (rake.rs:43)
    return keywords


def rake_text(text: str) -> dict[str, float]:
    """``rake_scores`` rounded to f32, the reference's map (lib.rs:386-399)."""
    return {
        k: struct.unpack("f", struct.pack("f", v))[0]
        for k, v in rake_scores(text).items()
    }


def rake_keywords_udf() -> Column:
    """Factory for the RAKE pandas UDF: string → map<string,double>.

    A null or empty text yields an empty map."""
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MapType(StringType(), DoubleType()))
    def _rake(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: rake_scores(t or ""))

    return _rake
