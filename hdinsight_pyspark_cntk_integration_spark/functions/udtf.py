"""User-defined table functions + grouped-aggregate UDFs (SURVEY.md §2.7).

The reference exposes no UDTF/UDAF surface (its only UDFs are the
map-style P1 and M1 — reference README.md:80-85, 162-174). The engine
adds both through the public PySpark APIs:

* Python UDTFs (Spark ≥3.5): one input row → many output rows, usable
  from SQL via ``LATERAL`` joins. ``split_sentences`` is the text-
  pipeline workhorse (document → sentence rows before token-level ops).
* Grouped-aggregate pandas UDFs: Arrow-batched custom aggregations for
  semantics the built-ins lack. These reduce per group WITHOUT a
  map-side partial (the whole group's column crosses the shuffle), so
  prefer built-in partial-aggregating expressions whenever they can
  express the math — these are the escape hatch, not the default.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf

_SENT_SPLIT = re.compile(r"[.!?]+")


class SplitSentences:
    """UDTF implementation: explode a document into (sentence, token
    count) rows. Wrap with :func:`split_sentences` (decorators that parse
    DDL return types need an active SparkSession, so construction is
    deferred). Register with ``spark.udtf.register("split_sentences",
    split_sentences())`` then::

        SELECT d.doc_id, s.sentence, s.n_tokens
        FROM documents d, LATERAL split_sentences(d.text) s
    """

    def eval(self, text: str):  # noqa: D102 — contract fixed by Spark
        for raw in _SENT_SPLIT.split(text or ""):
            s = raw.strip()
            if s:
                yield s, len(s.split())


def split_sentences():
    """The registered form of :class:`SplitSentences`."""
    return udtf(SplitSentences, returnType="sentence: string, n_tokens: int")


def trimmed_mean():
    """Grouped-agg UDF: mean of the middle 80% (10% trimmed each side)."""

    @pandas_udf("double")
    def tm(v: pd.Series) -> float:
        x = np.sort(v.dropna().to_numpy(dtype="float64"))
        if x.size == 0:
            return float("nan")
        k = int(x.size * 0.1)
        core = x[k : x.size - k] if x.size - 2 * k > 0 else x
        return float(core.mean())

    return tm
