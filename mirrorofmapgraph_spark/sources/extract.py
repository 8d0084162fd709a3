"""Link extraction from source-code content — vectorized pandas/Arrow UDFs.

The analogue of the reference's mtx -> COO edge-list ingest
(b40c/graph/builder/market.cuh:43-167), re-targeted at the BASELINE.json
input table (repo, path, commit, lang, content). Per input_hint:
vectorized pandas UDFs only (no per-row Python UDFs), and the pipeline
preserves sha256(content) per row (``with_sha256`` + tests assert
equality before/after).

Parsing convention per language (FIXTURES.md §F1):
- python: ``import repoNNNN.modMMM`` / ``from repoNNNN.modMMM import ...``
- c:      ``#include "repoNNNN/modMMM.h"``
- java:   ``import repoNNNN.modMMM;``

Output: string-keyed link rows (src_key, dst_key) with
key = 'repoNNNN/modMMM'. ``build_link_graph`` encodes them to dense longs
(each key's rank in sorted key order) with sources/ids.py, every edge
weighted 1.0.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_PY_RE = re.compile(r"^\s*(?:import|from)\s+(repo\d+)\.(mod\d+)", re.M)
_C_RE = re.compile(r'^\s*#\s*include\s+"(repo\d+)/(mod\d+)\.h"', re.M)
_JAVA_RE = re.compile(r"^\s*import\s+(repo\d+)\.(mod\d+)\s*;", re.M)

_LANG_RES = {"python": _PY_RE, "c": _C_RE, "java": _JAVA_RE}


def _extract_links(lang: pd.Series, content: pd.Series) -> pd.Series:
    """Arrow-batched: content string -> list of 'repoNNNN/modMMM' link keys."""
    out = []
    for lg, text in zip(lang, content):
        rex = _LANG_RES.get(lg)
        if rex is None or text is None:
            out.append([])
            continue
        out.append([f"{r}/{m}" for r, m in rex.findall(text)])
    return pd.Series(out)


def extract_links_udf():
    """pandas UDF factory (deferred: pandas_udf needs an active session)."""
    from pyspark.sql.types import ArrayType, StringType

    return pandas_udf(_extract_links, ArrayType(StringType()))


def with_sha256(source: DataFrame, col: str = "content") -> DataFrame:
    """Attach content_sha256 (JVM-side sha2 — no Python in this hot path)."""
    return source.withColumn("content_sha256", F.sha2(F.col(col), 256))


def extract_edges(source: DataFrame) -> DataFrame:
    """source(repo, path, commit, lang, content) ->
    (src_key string, dst_key string) distinct link edges.

    src_key is 'repoNNNN/modMMM' derived from (repo, path) — pure Column
    expressions; only the content parse itself is a pandas UDF. The
    explode keeps everything columnar; filters/projections around the UDF
    stay in whole-stage codegen.
    """
    src_key = F.concat_ws(
        "/",
        F.col("repo"),
        F.regexp_replace(F.element_at(F.split(F.col("path"), "/"), -1), r"\.[a-z]+$", ""),
    )
    return (
        source.withColumn("src_key", src_key)
        .withColumn("dst_key", F.explode(extract_links_udf()("lang", "content")))
        .select("src_key", "dst_key")
        .distinct()
    )


def build_link_graph(source: DataFrame):
    """Full ingest: source table -> (edges(src,dst,w), vertices(id,key),
    source_with_sha). The sha256 column is computed on the *input* rows and
    carried through untouched — the per-row invariant from input_hint."""
    from .ids import encode_edges

    source_sha = with_sha256(source)
    raw = extract_edges(source_sha)
    edges, vertices = encode_edges(raw)
    return edges, vertices, source_sha
