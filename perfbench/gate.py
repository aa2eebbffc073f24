"""Correctness gate, run outside every timed region.

CDC states are compared with ``cdc.fixtures.reference_fold`` over the same
batches (byte-identical ``text`` and ``html`` per url); change feeds with
the net I/U/D diff of two reference folds; query entries with their DuckDB
``oracle_sql()`` twin under the normalisation of the repo's oracle-parity
test. Each function returns a list of mismatch descriptions, empty when
the output is correct.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_state(spark, table_path: str) -> dict[str, dict]:
    from pyspark.sql import functions as F

    from csv_cruncher_spark.lake.table import LakeTable

    df = LakeTable.load(table_path).read(spark)
    df = df.withColumn("warc_ts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"))
    return rows_state(df.collect())


def rows_state(rows) -> dict[str, dict]:
    """{url: {warc_ts, text, lang, html}} from collected table rows; a
    ``datetime`` version is rendered in the process time zone (UTC)."""
    out = {}
    for r in rows:
        ts = r["warc_ts"]
        if ts is not None and not isinstance(ts, str):
            ts = ts.strftime("%Y-%m-%d %H:%M:%S")
        out[r["url"]] = {
            "warc_ts": ts,
            "text": r["text"],
            "lang": r["lang"],
            "html": bytes(r["html"]) if r["html"] is not None else None,
        }
    return out


def compare_state(got: dict[str, dict], want: dict[str, dict], where: str) -> list[str]:
    bad = []
    if set(got) != set(want):
        bad.append(
            f"{where}: url sets differ ({len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing)"
        )
    for url in sorted(set(got) & set(want)):
        g, w = got[url], want[url]
        for k in ("warc_ts", "text", "lang", "html"):
            if g[k] != w[k]:
                bad.append(f"{where}: {k} differs for {url}")
                break
    return bad


def feed_diff(a: dict[str, dict], b: dict[str, dict]) -> dict[str, tuple]:
    """Net change per url from reference state ``a`` to ``b``."""
    out = {}
    for u in set(a) | set(b):
        if u not in a:
            out[u] = ("I", b[u]["lang"], b[u]["text"])
        elif u not in b:
            out[u] = ("D", None, None)
        elif a[u] != b[u]:
            out[u] = ("U", b[u]["lang"], b[u]["text"])
    return out


def compare_feed(rows, want: dict[str, tuple], where: str) -> list[str]:
    got = {r["url"]: (r["__op"], r["lang"], r["text"]) for r in rows}
    if got == want:
        return []
    wrong = sorted(u for u in set(got) | set(want) if got.get(u) != want.get(u))
    return [f"{where}: {len(wrong)} urls differ, first {wrong[0]}"]


@functools.cache
def _oracle_parity_module():
    path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_pb_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault(spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


def compare_query(name: str, spark_pdf, duck_pdf) -> list[str]:
    """The oracle-parity test's assertions: same column names, row count,
    dtype kinds and normalised values."""
    norm = _oracle_parity_module()._normalize_pdf
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return [f"{name}: column names differ"]
    if len(spark_pdf) != len(duck_pdf):
        return [f"{name}: row counts differ ({len(spark_pdf)} vs {len(duck_pdf)})"]
    (sk, ns), (dk, nd) = norm(spark_pdf), norm(duck_pdf)
    fold = {"u": "i", "b": "i"}
    if [fold.get(k, k) for k in sk] != [fold.get(k, k) for k in dk]:
        return [f"{name}: dtype kinds differ"]
    if ns != nd:
        return [f"{name}: values differ"]
    return []
