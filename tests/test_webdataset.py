"""WebDataset tar-shard sink/source: roundtrip byte-equality,
canonical (retry-stable) shard bytes, bounded streaming parse, and
robustness to corrupt shards."""

import hashlib
import tarfile

import pandas as pd
from pyspark.sql.pandas.types import to_arrow_schema

from document_extraction_service_spark.sources.warc import record_batches
from document_extraction_service_spark.sources.webdataset import (
    _ROWS_SCHEMA,
    WDS_CHUNK_ROWS,
    _iter_tar_rows,
    read_webdataset,
    write_webdataset,
)


def _docs(spark, n, text=None):
    rows = pd.DataFrame(
        {
            "doc_id": list(range(n)),
            "text": [
                f"document {i} text with unicode é中" if text is None else text
                for i in range(n)
            ],
            "lang": ["en" if i % 2 else "de" for i in range(n)],
            "source": [f"host{i % 3}" for i in range(n)],
            "n_chars": [30] * n,
        }
    )
    return spark.createDataFrame(rows)


def test_roundtrip_byte_exact(spark, tmp_path):
    """write -> read returns every (doc_id, text, lang, source)
    byte-identically, across multiple shards."""
    d = _docs(spark, 25)
    out = str(tmp_path / "wds")
    manifest = write_webdataset(d, out, docs_per_shard=10).collect()
    assert sorted(m["shard"] for m in manifest) == [0, 1, 2]
    assert sum(m["n_docs"] for m in manifest) == 25
    back = read_webdataset(spark, f"{out}/*.tar").collect()
    want = {
        (r["doc_id"], r["text"], r["lang"], r["source"])
        for r in d.select("doc_id", "text", "lang", "source").collect()
    }
    got = {(r["doc_id"], r["text"], r["lang"], r["source"]) for r in back}
    assert got == want


def test_shard_bytes_are_canonical_across_reruns(spark, tmp_path):
    """Two independent writes of the same data produce byte-identical
    shards (sha256 equal per shard) — the safe-task-retry contract."""
    d = _docs(spark, 15)
    m1 = {
        m["shard"]: m["sha256"]
        for m in write_webdataset(d, str(tmp_path / "a"), 10).collect()
    }
    m2 = {
        m["shard"]: m["sha256"]
        for m in write_webdataset(d, str(tmp_path / "b"), 10).collect()
    }
    assert m1 == m2
    # manifest sha matches the file actually on disk
    for m in write_webdataset(d, str(tmp_path / "c"), 10).collect():
        with open(m["path"], "rb") as fp:
            assert hashlib.sha256(fp.read()).hexdigest() == m["sha256"]


def test_tar_layout_is_loader_compatible(spark, tmp_path):
    """Members come in (key.txt, key.json) adjacent pairs sorted by
    key, with zeroed mtime/uid — what a sequential WebDataset loader
    expects, byte-stable under retries."""
    d = _docs(spark, 5)
    m = write_webdataset(d, str(tmp_path / "w"), 100).collect()[0]
    with tarfile.open(m["path"]) as tf:
        names = tf.getnames()
        infos = tf.getmembers()
    keys = [n.split(".")[0] for n in names]
    assert keys == sorted(keys)                      # samples in key order
    assert keys[0::2] == keys[1::2]                  # pair members adjacent
    assert [n.split(".")[1] for n in names] == ["txt", "json"] * 5
    assert all(i.mtime == 0 and i.uid == 0 and i.gid == 0 for i in infos)


def test_source_streams_bounded_chunks(spark, tmp_path):
    """A shard larger than WDS_CHUNK_ROWS must be emitted as >1
    Arrow batch (the bounded-memory contract), without losing rows."""
    import glob as g

    n = WDS_CHUNK_ROWS * 2 + 7
    d = _docs(spark, n)
    out = str(tmp_path / "w")
    write_webdataset(d, out, docs_per_shard=n).collect()
    (p,) = g.glob(f"{out}/*.tar")
    batches = record_batches(_iter_tar_rows(p), to_arrow_schema(_ROWS_SCHEMA), WDS_CHUNK_ROWS)
    assert [b.num_rows for b in batches] == [WDS_CHUNK_ROWS, WDS_CHUNK_ROWS, 7]
    # the Spark-side reader path, full count
    assert read_webdataset(spark, f"{out}/*.tar").count() == n


def test_corrupt_shard_keeps_clean_prefix(spark, tmp_path):
    """Truncating a shard mid-member must not kill the task: samples
    before the damage survive, the rest of the file is skipped."""
    d = _docs(spark, 12)
    out = str(tmp_path / "w")
    m = write_webdataset(d, out, docs_per_shard=12).collect()[0]
    with open(m["path"], "rb") as fp:
        data = fp.read()
    with open(m["path"], "wb") as fp:
        fp.write(data[: len(data) // 2])
    rows = read_webdataset(spark, f"{out}/*.tar").collect()
    assert 0 < len(rows) < 12
    got = {r["doc_id"] for r in rows}
    assert got == set(range(len(got)))  # a clean PREFIX, no holes


def test_listing_scan_prunes_content(spark, tmp_path, plan_text):
    """The source's binaryFile scan must read ONLY the path column —
    shard bytes never cross JVM->Arrow."""
    d = _docs(spark, 3)
    out = str(tmp_path / "w")
    write_webdataset(d, out, 10).collect()
    plan = plan_text(read_webdataset(spark, f"{out}/*.tar"))
    assert "ReadSchema: struct<path:string>" in plan


def test_job_runs_end_to_end_from_wds_input(spark, tmp_path):
    """`wds:<glob>` is a first-class job input: exported tar shards
    re-enter as null-html pages, ride the text-fallback extraction,
    and resume works off the shard fingerprints — export -> re-ingest
    closes through the job CLI (the wet: twin for the training-export
    format)."""
    from document_extraction_service_spark.job import run_job

    n = 40
    wds_dir = str(tmp_path / "shards")
    # the manifest is the write's action — collect() materializes it
    write_webdataset(_docs(spark, n), wds_dir, docs_per_shard=16).collect()

    spec = f"wds:{wds_dir}/*.tar"
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    m1 = run_job(spark, spec, out, lin, run_id="wds1", n_buckets=8)
    assert m1["n_rows"] == n and m1["n_ok"] == n
    assert m1["n_fallback"] == n  # every row rode the text path
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out)
        .select("url", "extraction.extracted_text")
        .collect()
    }
    assert len(got) == n
    for i in range(n):
        assert got[f"wds://host{i % 3}/{i}"] == f"document {i} text with unicode é中"
    m2 = run_job(spark, spec, out, lin, run_id="wds1", n_buckets=8,
                 resume=True)
    assert m2["n_rows"] == 0 and len(m2["skipped_buckets"]) > 0


def test_foreign_member_keys_skip_not_abort(tmp_path):
    """ADVICE r6: non-numeric member stems are foreign files, not
    corruption — the parser must skip them and keep every remaining
    valid sample (previously the int() ValueError aborted the file,
    and a non-numeric FINAL unpaired .txt escaped the generator)."""
    import io
    import tarfile

    from document_extraction_service_spark.sources.webdataset import (
        _iter_tar_rows,
    )

    p = str(tmp_path / "foreign.tar")
    with tarfile.open(p, "w") as tf:
        for name, data in [
            ("000000000001.txt", b"alpha"),
            ("README.txt", b"i am foreign"),          # mid-file foreign stem
            ("000000000002.txt", b"beta"),
            ("000000000002.json", b'{"lang":"en","source":"s"}'),
            ("notes.txt", b"trailing foreign unpaired"),  # final foreign stem
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    rows = list(_iter_tar_rows(p))
    assert (1, "alpha", None, None) in rows
    assert (2, "beta", "en", "s") in rows
    assert all(isinstance(r[0], int) for r in rows)
    assert len(rows) == 2
