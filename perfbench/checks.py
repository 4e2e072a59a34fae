"""Output checks.

Extraction: an order-independent digest of (url, extracted_text,
status) over the job's committed output, computed by Spark, must equal
the digest of a pure-Python `extract_document` replay of the same
generated rows.  Each row is canonicalised to one string, hashed with
md5, and the first 15 hex digits (60 bits) are summed, so the digest
does not depend on row order and one changed row changes it.

Operators: each query's rows must match its DuckDB `oracle_sql()`,
compared as scripts/check_oracles.py compares them (column names, row
count, and sorted rows of normalised values).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from dataclasses import dataclass

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check_oracles import frame_key  # noqa: E402

SEP = "\x1f"
NULL = "\\N"
STATUS_FIELDS = ("ok", "error", "truncated", "fallback", "n_blocks", "n_tables",
                 "n_images")


@dataclass(frozen=True)
class Digest:
    rows: int
    distinct_urls: int
    hash_sum: int


def _canon(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_hash(url: str, result: dict) -> int:
    """60-bit hash of one extracted row, as `spark_digest` computes it."""
    st = result["status"]
    parts = [url, result["extraction"]["extracted_text"]]
    parts += [st[k] for k in STATUS_FIELDS]
    s = SEP.join(_canon(p) for p in parts)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def python_digest(urls: list[str], hashes: list[int]) -> Digest:
    return Digest(len(urls), len(set(urls)), sum(hashes))


def spark_digest(spark, output_path: str) -> Digest:
    """Digest of the committed job output, computed by Spark."""
    from pyspark.sql import functions as F

    out = spark.read.parquet(output_path)
    cols = [F.col("url"), F.col("extraction.extracted_text")]
    cols += [F.col(f"status.{k}").cast("string") for k in STATUS_FIELDS]
    canon = F.concat_ws(SEP, *[F.coalesce(c, F.lit(NULL)) for c in cols])
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("d"),
        F.sum(h).alias("s"),
    ).collect()[0]
    return Digest(int(r["n"]), int(r["d"]), int(r["s"] or 0))


# --- operator oracles --------------------------------------------------------

def oracle_frames(sf_dir: str, tables: list[str], sqls: dict[str, str],
                  cache_dir: str) -> dict[str, dict]:
    """query -> {"cols": sorted column names, "key": frame_key} from
    DuckDB.  Results are cached on disk under a key of the SQL text and
    the table bytes, so a changed oracle or table is recomputed."""
    import duckdb

    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    data_key = h.hexdigest()
    out: dict[str, dict] = {}
    con = None
    try:
        for name, sql in sqls.items():
            key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:32]
            path = os.path.join(cache_dir, f"oracle-{name}-{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)
                continue
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    p = os.path.join(sf_dir, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            rel = con.sql(sql)
            cols = [d[0] for d in rel.description]
            res = {"cols": sorted(cols),
                   "key": [list(r) for r in frame_key(rel.fetchall(), cols)]}
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(res, f)
            os.replace(tmp, path)
            out[name] = res
    finally:
        if con is not None:
            con.close()
    return out


def matches_oracle(rows, cols, expected: dict) -> bool:
    if sorted(cols) != expected["cols"]:
        return False
    return [list(r) for r in frame_key(rows, cols)] == expected["key"]
