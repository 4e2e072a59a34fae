"""Operator correctness at sf0.001: mirrors the driver's DuckDB oracle
comparison for every SQL-expressible query, and validates the
sketch-based operators (minhash/simhash/LSH — rows-only for the
driver) against exact ground truth."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry
from scripts.check_oracles import TABLES, frame_key

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


ORACLED = sorted(entry.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, con, name):
    sdf = entry.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    ddf = con.sql(entry.oracle_sql()[name])
    dcols = [d[0] for d in ddf.description]
    drows = ddf.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row counts differ"
    assert frame_key(srows, sdf.columns) == frame_key(drows, dcols), f"{name}: values differ"


def test_minhash_lsh_recall_vs_exact(spark):
    """Every exact-Jaccard near-dup pair must be an LSH candidate
    LSH is probabilistic by construction (deterministic hashes -> the
    outcome is stable per corpus): with 8 bands x 4 rows, a j=0.9 pair
    misses with P=(1-j^4)^8 ~ 2e-4 — assert recall >= 0.9, and that
    candidates agreeing on all bands are true near-dups."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in entry.queries()["dedup_ngram_jaccard"](spark, SF_DIR).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"]): r["n_bands_agree"]
        for r in entry.queries()["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    strong_exact = {p for p, j in exact.items() if j >= 0.8}
    if strong_exact:
        recall = len(strong_exact & set(cand)) / len(strong_exact)
        assert recall >= 0.9, f"LSH recall {recall} below floor"
    full_agree = {p for p, n in cand.items() if n == 8}
    assert all(p in exact for p in full_agree), "all-band LSH candidate not a true near-dup"


def test_simhash_candidates_are_similar(spark):
    """SimHash pairs at hamming <= 4 must share vocabulary (positive
    n-gram overlap computed independently)."""
    rows = entry.queries()["dedup_simhash"](spark, SF_DIR).collect()
    close = [(r["doc_a"], r["doc_b"]) for r in rows if r["hamming"] <= 4]
    if not close:
        pytest.skip("no hamming<=4 pairs at this sf")
    import pandas as pd

    texts = pd.read_parquet(f"{SF_DIR}/documents.parquet").set_index("doc_id")["text"]
    for a, b in close[:20]:
        ta, tb = set(texts[a].split()), set(texts[b].split())
        assert len(ta & tb) / len(ta | tb) > 0.3


def test_ann_lsh_subset_of_bruteforce_space(spark):
    """LSH top-k must be real vectors with correct cosine: every LSH hit
    must appear in the brute-force scored space with the same cosine."""
    bf = entry.queries()["ann_topk_bruteforce"](spark, SF_DIR).collect()
    lsh = entry.queries()["ann_lsh_bucketed"](spark, SF_DIR).collect()
    assert lsh, "LSH returned nothing"
    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    hits = sum(1 for r in lsh if (r["query_id"], r["neighbor_id"]) in bf_cos)
    for r in lsh:
        k = (r["query_id"], r["neighbor_id"])
        if k in bf_cos:
            assert abs(r["cosine"] - bf_cos[k]) < 1e-9
    # recall@5 against brute force: multi-table LSH expectation ~0.8
    assert hits / len(bf) > 0.5


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "extracted_text", "title", "ok"}

def test_hot_shingle_postings_bounded(spark):
    """DF cap (VERDICT r1 'What's wrong' #2): one boilerplate trigram in
    every doc must NOT detonate the pair space.  200 docs share a hot
    trigram (df=200 > SHINGLE_DF_CAP); two docs are genuine near-dups
    through rare shingles.  Without the cap the hot shingle alone yields
    C(200,2)=19900 candidate pairs; with it, only rare-shingle pairs
    survive and every postings array is bounded."""
    from document_extraction_service_spark.operators import dedup

    rows = []
    for i in range(200):
        rows.append((i, f"the quick brown u{i}a u{i}b u{i}c u{i}d u{i}e"))
    # near-dup pair through rare shingles (doc 500/501 differ by one word)
    rows.append((500, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((501, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    postings = dedup.bounded_postings(
        dedup._hashed_shingles(docs), ["shingle"], "doc_id", dedup.SHINGLE_DF_CAP
    )
    max_df = postings.selectExpr("max(size(docs)) AS m").collect()[0]["m"]
    assert max_df <= dedup.SHINGLE_DF_CAP
    # the hot shingle is gone entirely
    assert postings.filter("shingle = xxhash64('the quick brown')").count() == 0

    # candidate-pair space is bounded: sum C(df,2) over kept shingles,
    # nowhere near the uncapped 19900+ blow-up
    n_cand = (
        postings.filter("size(docs) >= 2")
        .selectExpr("sum(size(docs) * (size(docs) - 1) / 2) AS n")
        .collect()[0]["n"]
    )
    assert n_cand is not None and n_cand < 100

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs).collect()}
    assert (500, 501) in pairs  # true near-dup survives
    assert all(a >= 500 for (a, b) in pairs)  # no hot-shingle-only pair


def test_simhash_bucket_cap_bounds_pairs(spark):
    """VERDICT r1 scale caveat: at 10^9+ docs a 16-bit bucket holds
    ~n/65536 docs and the within-bucket join grows quadratically.  The
    postings rewrite bounds every (chunk, key) bucket at
    SIMHASH_BUCKET_CAP; near-dup pairs still surface."""
    from document_extraction_service_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(0, base), (1, base + " phi")]  # near-dup pair
    # 600 empty-ish docs: all share the degenerate all-chunks-equal
    # sketch region and would otherwise form a 600^2/2 pair bucket
    rows += [(100 + i, "x") for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import pandas as pd
    import tempfile, os
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = dedup.dedup_simhash(spark, tmp)
        got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 1) in got                       # true near-dup survives
    degenerate = [p for p in got if p[0] >= 100]
    assert len(degenerate) == 0                # capped bucket dropped


def test_minhash_bucket_cap_bounds_pairs(spark):
    """VERDICT r2 'What's wrong' #1: a degenerate (band, bucket) — e.g.
    near-empty docs all minimizing to the same sketch — must NOT make
    the candidate join quadratic.  600 one-word docs share every band
    bucket (> MINHASH_BUCKET_CAP -> dropped); a genuine near-dup pair in
    small buckets survives."""
    import os
    import tempfile

    from document_extraction_service_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(0, base), (1, base + " phi")]  # near-dup pair
    rows += [(100 + i, "x") for i in range(600)]  # degenerate bucket
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {(r["doc_a"], r["doc_b"]): r["n_bands_agree"]
               for r in dedup.dedup_minhash_lsh(spark, tmp).collect()}
    assert (0, 1) in got                      # true near-dup survives
    assert all(a < 100 for (a, b) in got)     # capped degenerate bucket dropped


def test_lsh_scaling_second_point_recall_and_selectivity(spark):
    """VERDICT r2 'What's wrong' #4: LSH selectivity must scale with
    corpus size.  At a second (planes=8, tables=12) point, multi-probe
    keeps recall useful while the candidate set shrinks well below the
    corpus (selectivity — the 'candidate *generator*' property)."""
    from document_extraction_service_spark.operators import similarity

    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    cand8 = similarity.lsh_candidates(spark, SF_DIR, tables=12, planes=8)
    per_q = cand8.groupBy("query_id").count().collect()
    assert per_q, "no candidates at planes=8"
    mean_cand = sum(r["count"] for r in per_q) / len(per_q)
    assert mean_cand < 0.5 * n, f"planes=8 not selective: {mean_cand} of {n}"

    bf = entry.queries()["ann_topk_bruteforce"](spark, SF_DIR).collect()
    lsh8 = similarity.ann_lsh_bucketed(spark, SF_DIR, tables=12, planes=8).collect()
    bf_keys = {(r["query_id"], r["neighbor_id"]) for r in bf}
    hits = sum(1 for r in lsh8 if (r["query_id"], r["neighbor_id"]) in bf_keys)
    assert hits / len(bf) > 0.3, "multi-probe recall collapsed at planes=8"

    # auto-planes rule: fixture-scale corpus stays at the minimum;
    # crawl-scale corpora get enough planes to keep buckets bounded
    assert similarity._auto_planes(n) == similarity.LSH_MIN_PLANES
    assert similarity._auto_planes(10**9) == 25
    # the documented design point (10^12 rows) needs 35 planes — past
    # int32; buckets are int64 end-to-end so the rule survives it, and
    # the clamp keeps the probe XOR literal inside signed-long range
    assert similarity._auto_planes(10**12) == 35
    assert similarity._auto_planes(10**21) == similarity.LSH_MAX_PLANES

    # and the 35-plane regime actually EXECUTES (int64 buckets + long
    # probe literals; int32 buckets wrapped here and 1 << 34 overflowed
    # IntegerType) — tiny corpus, so candidates are near-zero, but the
    # plan must build and run
    cand35 = similarity.lsh_candidates(spark, SF_DIR, tables=2, planes=35)
    assert cand35.count() >= 0


def test_embedding_cosine_block_cap_bounds_hot_label(spark):
    """VERDICT r3 'What's wrong' #1: a hot label block must NOT
    detonate the pair space.  With the cap, an over-cap label
    contributes ZERO pairs (those rows are the pipeline path's job);
    small blocks still produce their exact pairs."""
    import pandas as pd

    from document_extraction_service_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    # hot label 0: 20 near-identical vectors (every pair passes the
    # threshold); small label 1: 3 near-identical vectors
    rows = []
    for i in range(20):
        rows.append((i, 0, [1.0] * 8))
    for i in range(20, 23):
        rows.append((i, 1, [0.0] * 4 + [1.0] * 4))
    e = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "label", "embedding"]),
        "vec_id long, label int, embedding array<float>",
    )
    capped = embedding_cosine_pairs(e, block_cap=8).collect()
    # hot block (20 > cap 8) dropped entirely; small block's 3 pairs kept
    assert {(r["vec_a"], r["vec_b"]) for r in capped} == {
        (20, 21), (20, 22), (21, 22)
    }
    uncapped = embedding_cosine_pairs(e, block_cap=1000).collect()
    assert len(uncapped) == 190 + 3  # C(20,2) + C(3,2)


def test_chunked_block_pairs_equals_plain_double_explode(spark):
    """r7: _chunked_block_pairs (full-width chunked `a`-side slices)
    must emit EXACTLY the plain double explode's pair set — including
    blocks whose size is not a multiple of BLOCK_PAIR_CHUNK (slice
    tail), blocks smaller than one chunk, and the carry columns."""
    import pandas as pd
    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.dedup import (
        BLOCK_PAIR_CHUNK,
        _chunked_block_pairs,
    )

    # block sizes: one chunk-straddling (BLOCK_PAIR_CHUNK + 7), one
    # sub-chunk (3), one exactly-one-chunk (BLOCK_PAIR_CHUNK)
    rows, vid = [], 0
    for blk, size in ((0, BLOCK_PAIR_CHUNK + 7), (1, 3), (2, BLOCK_PAIR_CHUNK)):
        for _ in range(size):
            rows.append((vid, blk, float(vid % 5)))
            vid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "blk", "x"]),
        "vec_id long, blk int, x double",
    )
    posts = df.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "x")).alias("docs")
    )
    plain = (
        posts.select("blk", F.explode("docs").alias("a"), "docs")
        .select(
            "blk", "a",
            F.explode(
                F.filter("docs", lambda d: d["vec_id"] > F.col("a.vec_id"))
            ).alias("b"),
        )
        .select("blk", F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    )
    chunked = _chunked_block_pairs(posts, ["blk"]).select(
        "blk", F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
    )
    p = {tuple(r) for r in plain.collect()}
    c = {tuple(r) for r in chunked.collect()}
    assert c == p
    n = BLOCK_PAIR_CHUNK + 7
    assert len(p) == n * (n - 1) // 2 + 3 + BLOCK_PAIR_CHUNK * (BLOCK_PAIR_CHUNK - 1) // 2


def test_chunked_block_pairs_empty_block(spark):
    """An empty docs array is one empty chunk, never the descending
    sequence(0, -1), and yields no pairs."""
    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.dedup import (
        BLOCK_PAIR_CHUNK,
        _chunk_ids,
        _chunked_block_pairs,
    )

    sizes = (0, 1, BLOCK_PAIR_CHUNK, BLOCK_PAIR_CHUNK + 1)
    posts = spark.createDataFrame(
        [(blk, [(blk * 100 + i, 0.0) for i in range(size)]) for blk, size in enumerate(sizes)],
        "blk int, docs array<struct<vec_id: long, x: double>>",
    )
    ids = {r["blk"]: r["ci"] for r in posts.select("blk", _chunk_ids("docs").alias("ci")).collect()}
    assert ids == {0: [0], 1: [0], 2: [0], 3: [0, 1]}
    pairs = _chunked_block_pairs(posts, ["blk"]).groupBy("blk").count()
    n = BLOCK_PAIR_CHUNK
    assert {r["blk"]: r["count"] for r in pairs.collect()} == {
        2: n * (n - 1) // 2, 3: (n + 1) * n // 2}


def test_posting_pairs_kernel_vs_brute_force(spark):
    """bounded_postings + posting_pairs against a Python brute force:
    a group above the cap is dropped, a singleton is kept in the
    postings but yields no pair, the same pair under two keys is
    emitted twice (n_bands_agree / n_common / n_shared_passages count
    that multiplicity), struct members compare on `by` and carry
    columns ride along, and _chunked_block_pairs emits exactly
    posting_pairs' rows."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.dedup import (
        BLOCK_PAIR_CHUNK,
        _chunked_block_pairs,
        bounded_postings,
        posting_pairs,
    )

    cap = BLOCK_PAIR_CHUNK + 5
    rows = [(0, i) for i in (1, 2, 3)]        # 3 pairs
    rows += [(1, 1), (1, 2)]                   # (1, 2) again under key 1
    rows += [(2, 100 + i) for i in range(cap + 1)]  # above the cap
    rows += [(3, 7)]                           # singleton
    rows += [(4, 5), (4, 5), (4, 6)]           # repeated member
    rows += [(5, 200 + i) for i in range(cap)]  # at the cap, > one chunk
    df = spark.createDataFrame(rows, "k int, vec_id long")

    groups = defaultdict(set)
    for k, m in rows:
        groups[k].add(m)
    kept = {k: ms for k, ms in groups.items() if len(ms) <= cap}
    want = Counter(
        (a, b) for ms in kept.values() for a in ms for b in ms if a < b
    )

    # scalar members, collect_set
    posts = bounded_postings(df, ["k"], "vec_id", cap)
    got_posts = {r["k"]: r["docs"] for r in posts.collect()}
    assert {k: set(d) for k, d in got_posts.items()} == kept
    assert 2 not in got_posts and got_posts[3] == [7]
    assert sorted(got_posts[4]) == [5, 6]
    got = Counter(
        tuple(r) for r in posting_pairs(posts, names=("x", "y")).collect()
    )
    assert got == want
    assert got[(1, 2)] == 2
    assert not any(7 in p for p in got)

    # struct members compared on `by`, key carried, collect_list
    sdf = df.withColumn("w", -F.col("vec_id")).distinct()
    sposts = bounded_postings(
        sdf, ["k"], F.struct("vec_id", "w"), cap, F.collect_list
    )
    spairs = posting_pairs(sposts, ["k"], by="vec_id")
    got_s = Counter(
        (r["k"], r["a"]["vec_id"], r["b"]["vec_id"]) for r in spairs.collect()
    )
    want_s = Counter(
        (k, a, b) for k, ms in kept.items() for a in ms for b in ms if a < b
    )
    assert got_s == want_s
    assert all(r["a"]["w"] == -r["a"]["vec_id"] for r in spairs.collect())

    # the full-width chunked path emits the same rows
    chunked = _chunked_block_pairs(sposts, ["k"])
    assert Counter(map(tuple, chunked.collect())) == Counter(
        map(tuple, spairs.collect())
    )


def test_collects_only_in_bounded_postings():
    """Every collect_set/collect_list call in operators/ sits in
    bounded_postings, so the postings cap (and its accounting) lives
    in one place.  The one exception is line_dedup's
    collect_list(struct(pos, chunk)), which reassembles a doc's kept
    chunks in order and is not a cap."""
    import ast
    import pathlib
    import re

    from document_extraction_service_spark import operators

    offenders = []
    for path in sorted(pathlib.Path(operators.__file__).parent.glob("*.py")):
        src = path.read_text()
        defs = [
            n for n in ast.parse(src).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if not re.search(r"collect_(set|list)\(", line):
                continue
            owner = next(
                (d.name for d in defs if d.lineno <= lineno <= d.end_lineno),
                "<module>",
            )
            if owner == "bounded_postings":
                continue
            if owner == "line_dedup" and 'collect_list(F.struct("pos", "chunk"))' in line:
                continue
            offenders.append(f"{path.name}:{lineno} ({owner}): {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_text_features_defined_once():
    """Each Spark-side per-document feature in operators/ is built only
    by its column function in textstats.py, so the copies used by
    curation, dedup and textstats cannot drift apart.  Only Python
    code is scanned: the DuckDB oracle strings restate the formulas on
    purpose and are exempt."""
    import ast
    import pathlib

    from document_extraction_service_spark import operators

    def src(node):
        return ast.unparse(node).replace('"', "'")

    def call_name(node):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    def feature(node):
        """Name of the kernel that alone may build this node, or None."""
        if isinstance(node, ast.Name) and node.id == "TOKEN_RE_SPARK" \
                and isinstance(node.ctx, ast.Load):
            return "token_count"
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult) \
                and isinstance(node.right, ast.Constant) \
                and node.right.value in (0.4, 0.2) \
                and isinstance(node.left, ast.Call) \
                and call_name(node.left) == "least":
            return "quality_score"
        if not isinstance(node, ast.Call):
            return None
        name, text = call_name(node), src(node)
        if name == "md5" and text.startswith("F.md5(F.lower(F.trim(F.col('text'))"):
            return "text_hash"
        if name == "md5" and text == "F.md5(F.col('doc_id').cast('string'))":
            return "doc_fraction"
        if name == "size" and text.startswith("F.size(F.split(F.trim(F.col('text')), ' ')"):
            return "word_count"
        if name == "regexp_replace" and "'[^A-Za-z]'" in text:
            return "alpha_count"
        if name == "when" and text.startswith("F.when(") \
                and isinstance(node.func.value, ast.Name) \
                and "F.lit('unknown')" in text:
            return "lang_guess"
        return None

    copies = {}
    for path in sorted(pathlib.Path(operators.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
            for node in ast.walk(top):
                kernel = feature(node)
                if kernel and not (path.name == "textstats.py" and owner == kernel):
                    copies.setdefault((path.name, owner, kernel), set()).add(node.lineno)
    offenders = [
        f"{f}:{','.join(map(str, sorted(lines)))} ({owner}): copy of {kernel}"
        for (f, owner, kernel), lines in sorted(copies.items())
    ]
    assert not offenders, "\n".join(offenders)


def test_python_stages_exchange_arrow():
    """Every executor-side Python stage in the package exchanges
    pyarrow batches (arrow_udf / mapInArrow / applyInArrow): no
    pandas_udf, mapInPandas or applyInPandas call and no pandas import.
    The one exception is streaming/stateful_dedup.py, whose
    applyInPandasWithState has no Arrow-form twin with the same
    GroupState semantics."""
    import ast
    import pathlib

    import document_extraction_service_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    pandas_calls = {"pandas_udf", "mapInPandas", "applyInPandas"}
    stages, imports = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "streaming/stateful_dedup.py":
            continue
        tree = ast.parse(path.read_text())
        defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]

        def owner(node):
            return next(
                (d.name for d in defs if d.lineno <= node.lineno <= d.end_lineno),
                "<module>",
            )

        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in pandas_calls:
                    stages.append(f"{rel}:{node.lineno} {owner(node)} ({name})")
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = (
                    [a.name for a in node.names] if isinstance(node, ast.Import)
                    else [node.module or ""]
                )
                if any(m.split(".")[0] == "pandas" for m in mods):
                    imports.append(f"{rel}:{node.lineno} {owner(node)}")
    assert not stages and not imports, (
        f"{len(stages)} pandas-form stages:\n" + "\n".join(stages)
        + f"\n{len(imports)} pandas imports:\n" + "\n".join(imports)
    )


def test_numpy_kernels_on_empty_and_sparse_input(spark):
    """The LSH signature and IVF assignment Arrow UDFs over empty
    input: an empty batch handed to each kernel, a frame hashed into
    more partitions than it has rows (so some partitions are empty),
    and a fully filtered-out frame.  Rows must equal a per-row Python
    reference; a null or ragged embedding must fail loudly."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.similarity import (
        LSH_MIN_PLANES,
        LSH_TABLES,
        _ivf_assign_udf,
        _ivf_centroids,
        _matrix,
        _planes,
        _signatures_udf,
    )
    from document_extraction_service_spark.operators.tables import read_table

    tables, planes = LSH_TABLES, LSH_MIN_PLANES
    sig = _signatures_udf(tables=tables, planes=planes)
    cents = _ivf_centroids(spark, SF_DIR)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64).T
    cmat = cmat / np.linalg.norm(cmat, axis=0, keepdims=True)
    cell_ids = np.array([cid for cid, _ in cents], dtype=np.int32)
    assign = _ivf_assign_udf(cmat, cell_ids)

    empty = pa.array([], pa.list_(pa.float32()))
    assert len(sig.func(empty)) == 0 and len(assign.func(empty)) == 0

    pl = _planes(tables=tables, planes=planes)
    norms = [math.sqrt(sum(x * x for x in cv)) for _, cv in cents]

    def ref(v):
        bits = (np.asarray(v, dtype=np.float64) @ pl) >= 0
        buckets = [
            sum(1 << k for k in range(planes) if bits[t * planes + k])
            for t in range(tables)
        ]
        dots = [sum(a * b for a, b in zip(v, cv)) / n for (_, cv), n in zip(cents, norms)]
        return buckets, cents[dots.index(max(dots))][0]

    e = read_table(spark, SF_DIR, "embeddings")
    want = {r["vec_id"]: ref(r["embedding"]) for r in e.filter("vec_id < 20").collect()}
    n_parts = 32
    sparse = e.filter("vec_id < 20").repartition(n_parts, "vec_id")
    assert sparse.select(F.spark_partition_id()).distinct().count() < n_parts
    for frame, expect in ((sparse, want), (e.filter("vec_id < 0"), {})):
        got = {
            r["vec_id"]: (list(r["bs"]), r["cell"])
            for r in frame.select(
                "vec_id",
                sig(F.col("embedding")).alias("bs"),
                assign(F.col("embedding")).alias("cell"),
            ).collect()
        }
        assert got == expect

    for bad in ([[0.5] * 64, None], [[0.5] * 63, [0.5] * 65]):
        with pytest.raises(ValueError):
            _matrix(pa.array(bad, pa.list_(pa.float32())), 64)


def test_two_stage_topk_kernel_vs_brute_force(spark):
    """similarity.two_stage_topk against a Python sort, keyed and
    global (keys=[]): a group smaller than k keeps all its rows, ties
    on the first order column break on the last one, and every group's
    rank runs 1, 2, ... without gaps.  The input is round-robined over
    several partitions so stage 1 really cuts, and also hashed by
    group, so one partition holds a whole group's top k."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from document_extraction_service_spark.operators.similarity import (
        two_stage_topk,
    )

    k = 3
    # created in descending tok order, so an input-order tie-break is wrong
    rows = [(0, i % 3, f"t{59 - i:03d}") for i in range(60)]  # ties on n
    rows += [(1, 7 - i, f"u{i}") for i in range(k - 1)]  # smaller than k
    rows += [(2, 5, f"v{9 - i}") for i in range(9)]      # all tied on n
    df = spark.createDataFrame(rows, "g int, n int, tok string")
    order = [F.desc("n"), F.asc("tok")]

    round_robin = df.repartition(6)
    # stage 1 cuts: at least 5 partitions, and some (group, partition)
    # holds more than k rows
    per_part = (
        round_robin.groupBy("g", F.spark_partition_id().alias("p"))
        .count().collect()
    )
    assert len({r["p"] for r in per_part}) >= 5
    assert max(r["count"] for r in per_part) > k

    def brute(group_of):
        groups = defaultdict(list)
        for r in rows:
            groups[group_of(r)].append(r)
        return sorted(
            (*r, rank)
            for members in groups.values()
            for rank, r in enumerate(
                sorted(members, key=lambda r: (-r[1], r[2]))[:k], 1
            )
        )

    for layout in (round_robin, df.repartition(6, "g")):
        for keys, group_of in ((["g"], lambda r: r[0]), ([], lambda r: None)):
            top = two_stage_topk(layout, keys, order, k)
            assert top.columns == ["g", "n", "tok", "rank"]
            got = sorted(tuple(r) for r in top.collect())
            assert got == brute(group_of), keys
            ranks = defaultdict(list)
            for r in got:
                ranks[group_of(r)].append(r[3])
            assert all(sorted(v) == list(range(1, len(v) + 1))
                       for v in ranks.values())
            if keys:
                assert len(ranks[1]) == k - 1


def test_unpartitioned_windows_only_over_bounded_tables():
    """Every unpartitioned (single-task) window in operators/ and
    streaming/ -- Window.partitionBy() with no keys, any other bare
    Window builder such as Window.orderBy(, or .over() -- sits in
    similarity.two_stage_topk, whose merge window is bounded at k*P
    rows, or over one of the named bin tables below, whose row count
    is a module constant."""
    import ast
    import pathlib
    from collections import defaultdict

    from document_extraction_service_spark import operators, streaming
    from document_extraction_service_spark.operators import curation, textstats

    # (file, function) -> (bound of its bin table, windows over it)
    bounded = {
        ("curation.py", "curate_token_budget"): (curation.N_QUALITY_BINS, 2),
        ("textstats.py", "text_ppl_buckets"): (textstats.PPL_BINS, 1),
        ("curation.py", "curate_length_dist"): (curation.LEN_BUCKETS, 1),
    }
    assert all(isinstance(b, int) and b <= 1024 for b, _ in bounded.values())

    def unpartitioned(node):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            return False
        f = node.func
        if isinstance(f.value, ast.Name) and f.value.id == "Window":
            return f.attr != "partitionBy" or not (node.args or node.keywords)
        return f.attr == "over" and not (node.args or node.keywords)

    found = defaultdict(list)
    for pkg in (operators, streaming):
        for path in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
            src = path.read_text()
            lines = src.splitlines()
            for top in ast.parse(src).body:
                owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if unpartitioned(node):
                        found[(path.name, owner)].append(
                            f"{path.name}:{node.lineno} ({owner}): "
                            f"{lines[node.lineno - 1].strip()}"
                        )
    offenders = [
        hit
        for (fname, owner), hits in sorted(found.items())
        if owner != "two_stage_topk"
        and len(hits) != bounded.get((fname, owner), (0, 0))[1]
        for hit in hits
    ]
    assert not offenders, "\n".join(offenders)


def test_embedding_pipeline_recall_vs_exact(spark):
    """The scale path (sign-LSH candidates -> exact verify -> CC) must
    recover most exact within-label near-dup pairs: every exact pair it
    finds lands in one cluster, and recall vs the exact blocked
    operator stays useful (deterministic per corpus — fixed planes)."""
    from document_extraction_service_spark.operators import dedup

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    assert exact, "exact operator found no pairs (fixture drift?)"
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in dedup.dedup_embedding_pipeline(spark, SF_DIR).collect()
    }
    hit = sum(
        1 for a, b in exact
        if clusters.get(a) is not None and clusters.get(a) == clusters.get(b)
    )
    recall = hit / len(exact)
    assert recall >= 0.5, f"pipeline recall collapsed: {recall:.2f}"


def test_connected_components_chain_and_cliques(spark):
    """A~B, B~C (A~C never emitted) must collapse into ONE cluster with
    min-id canonical; disjoint components stay separate; a long chain
    (diameter > 1 propagation round) still converges."""
    from document_extraction_service_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (emitted as consecutive pairs only) + clique {10,11}
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a long, doc_b long",
    )
    # both paths: driver union-find (default at this size) AND the
    # distributed min-label loop (forced via driver_max_edges=0) must
    # agree row-for-row (the r7 CC_DRIVER_MAX_EDGES contract)
    per_path = []
    for dme in (None, 0):
        kw = {} if dme is None else {"driver_max_edges": dme}
        rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
                for r in connected_components(pairs, **kw).collect()}
        assert {rows[d] for d in (1, 2, 3, 4, 5)} == {(1, 5)}
        assert rows[10] == (10, 2) and rows[11] == (10, 2)
        per_path.append(rows)
    assert per_path[0] == per_path[1]


def test_connected_components_long_path_converges(spark):
    """A 64-node path has diameter 63 > MAX_CC_ITERS: plain neighbour
    propagation would NOT converge, pointer jumping must (O(log d))."""
    from document_extraction_service_spark.operators.dedup import connected_components

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    # force the distributed loop (driver_max_edges=0): the long-path
    # convergence property is the LOOP's, the driver union-find is
    # trivially convergent
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in connected_components(pairs, driver_max_edges=0).collect()}
    assert set(rows.values()) == {(0, n)}
    assert len(rows) == n


def test_ann_ivf_recall_and_exact_cosines(spark):
    """IVF hits must carry exact cosines (same as brute force) and
    recall@5 above the nprobe/cells expectation floor."""
    bf = entry.queries()["ann_topk_bruteforce"](spark, SF_DIR).collect()
    ivf = entry.queries()["ann_ivf"](spark, SF_DIR).collect()
    assert ivf, "IVF returned nothing"
    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    for r in ivf:
        k = (r["query_id"], r["neighbor_id"])
        if k in bf_cos:
            assert abs(r["cosine"] - bf_cos[k]) < 1e-9
    hits = sum(1 for r in ivf if (r["query_id"], r["neighbor_id"]) in bf_cos)
    assert hits / len(bf) > 0.3  # nprobe=4 of 16 cells; clustered synthetic data
    # determinism: second run bit-identical
    again = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in entry.queries()["ann_ivf"](spark, SF_DIR).collect()}
    assert again == {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf}


def test_redact_pii_semantics(spark):
    """Every doc gains exactly one synthesized email + phone; IPs only
    on doc_id % 3 == 0; the fingerprint is over the REDACTED text (so
    equal raw counts with different spans still differ)."""
    rows = entry.queries()["text_redact_pii"](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r["n_emails"] == 1
        assert r["n_phones"] == 1
        assert r["n_ipv4"] == (1 if r["doc_id"] % 3 == 0 else 0)
    # The PII was the only per-doc distinguishing material for docs
    # sharing a text prefix: after redaction those COLLIDE — direct
    # evidence the identifying tokens are gone — while most docs stay
    # distinct through their text.
    n_distinct = len({r["redacted_fp"] for r in rows})
    assert 400 < n_distinct < len(rows)


def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "source": ["unit"] * len(rows),
        "n_chars": [len(r[1]) for r in rows],
    })
    pq.write_table(t, tmp_path / "documents.parquet")
    return str(tmp_path)


def test_repetition_crafted(spark, tmp_path):
    """Hand-checked degeneracy stats: 'a a a b a b' has 4/6 duplicate
    word occurrences, 2/5 duplicate bigrams, 0 duplicate trigrams, and
    a longest same-token run of 3; a all-distinct doc scores zero."""
    d = _write_docs(tmp_path, [(1, "a a a b a b"), (2, "x y z w")])
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["text_repetition"](spark, d).collect()
    }
    r1 = rows[1]
    assert r1["n_words"] == 6 and r1["max_run"] == 3
    assert abs(r1["dup_word_frac"] - 0.666666) < 1e-9
    assert abs(r1["dup_bigram_frac"] - 0.4) < 1e-9
    assert r1["dup_trigram_frac"] == 0.0
    r2 = rows[2]
    assert r2["dup_word_frac"] == 0.0 and r2["max_run"] == 1


def test_decontaminate_flags_known_overlap(spark, tmp_path):
    """doc 0 is the benchmark slice (0 % CONTAM_MOD == 0); doc 5 shares
    exactly one 4-gram ('p q r s') with it, doc 6 shares none — only
    doc 5 is flagged, with n_shared == 1."""
    d = _write_docs(tmp_path, [
        (0, "p q r s t u"),
        (5, "m n p q r s"),
        (6, "a b c d e f"),
    ])
    rows = entry.queries()["curate_decontaminate"](spark, d).collect()
    assert {r["doc_id"]: r["n_shared"] for r in rows} == {5: 1}


def test_decontaminate_broadcasts_benchmark_side(spark, plan_text):
    """The benchmark gram set must broadcast: the corpus side of the
    contamination join never shuffles its grams at 10^12 rows."""
    df = entry.queries()["curate_decontaminate"](spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan


def test_quality_gate_every_reason_code(spark, tmp_path):
    """One crafted doc per cascade branch, in precedence order: a short
    doc fails too_short even though it also has a long run; the run
    rule beats the bigram rule; a stopword-free doc with clean n-grams
    fails no_stopwords; a normal doc passes."""
    long_tail = " ".join(f"w{i} the of" for i in range(8))
    d = _write_docs(tmp_path, [
        (1, "z z z z z"),                                   # too_short (5 words)
        (2, "z z z z " + long_tail),                        # long_run (run of 4)
        (3, "p q p q p q p q " + long_tail),                # dup_bigrams
        (4, " ".join(f"u{i}" for i in range(20))),          # no_stopwords
        # ok: >= 15 words, stopword present, no repeated bigram, no run
        (5, "the cat sat of a mat " + " ".join(f"u{i}" for i in range(10))),
    ])
    rows = {
        r["doc_id"]: r
        for r in entry.queries()["curate_quality_gate"](spark, d).collect()
    }
    assert rows[1]["fail_reason"] == "too_short"
    assert rows[2]["fail_reason"] == "long_run"
    assert rows[3]["fail_reason"] == "dup_bigrams"
    assert rows[4]["fail_reason"] == "no_stopwords"
    assert rows[5]["fail_reason"] == "ok" and rows[5]["keep"]
    assert not rows[1]["keep"]


def test_repetition_edge_cases_match_pure_python(spark, tmp_path):
    """Spark's repetition stats must agree with an independent
    pure-Python reference on tokenizer edge cases: empty string (one
    empty token), double spaces (empty tokens mid-stream), single
    word, all-same word, unicode, and a long run."""
    import math

    texts = [
        "",
        "x",
        "a  b",
        "a a  a a",
        "héllo héllo héllo",
        " ".join(["r"] * 10),
        "one two three four five six seven",
        "  ",
    ]

    def ref(text):
        t = text.split(" ")
        n = len(t)

        def dup(arr):
            return math.floor((len(arr) - len(set(arr))) / len(arr) * 1e6) / 1e6

        def grams(k):
            return (
                [" ".join(t[i:i + k]) for i in range(n - k + 1)]
                if n >= k else [text]
            )

        best = run = 0
        prev = None
        for tok in t:
            run = run + 1 if tok == prev else 1
            best = max(best, run)
            prev = tok
        return (n, dup(t), dup(grams(2)), dup(grams(3)), best)

    d = _write_docs(tmp_path, list(enumerate(texts)))
    rows = {
        r["doc_id"]: (r["n_words"], r["dup_word_frac"], r["dup_bigram_frac"],
                      r["dup_trigram_frac"], r["max_run"])
        for r in entry.queries()["text_repetition"](spark, d).collect()
    }
    for i, text in enumerate(texts):
        assert rows[i] == ref(text), f"doc {i} ({text!r}): {rows[i]} != {ref(text)}"


def test_url_dedup_collapses_variant_groups(spark):
    """Every group of 4 doc_ids carries four differently-noised
    spellings of one page url; dedup must collapse each to a single
    canonical row with n_dups == 4 and canonical_id == the group min."""
    rows = entry.queries()["web_url_dedup"](spark, SF_DIR).collect()
    assert len(rows) == 125  # 500 docs / 4 variants
    for r in rows:
        assert r["n_dups"] == 4
        assert r["canonical_id"] % 4 == 0
        assert "utm" not in r["canonical_url"]
        assert "#" not in r["canonical_url"]
        assert ":443" not in r["canonical_url"]
        assert r["canonical_url"] == r["canonical_url"].split("?")[0].lower() + (
            "" if "?" not in r["canonical_url"]
            else "?" + r["canonical_url"].split("?", 1)[1]
        )


def test_ann_filtered_respects_label_and_matches_bruteforce_cosines(spark):
    """Every filtered neighbor must share the query's label, and where
    a (query, neighbor) pair also appears in the label-blind top-k its
    cosine must be identical (same JVM fold)."""
    import pandas as pd

    labels = (
        pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
        .set_index("vec_id")["label"]
    )
    filt = entry.queries()["ann_topk_filtered"](spark, SF_DIR).collect()
    assert filt, "filtered ANN returned nothing"
    for r in filt:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in entry.queries()["ann_topk_bruteforce"](spark, SF_DIR).collect()
    }
    for r in filt:
        k = (r["query_id"], r["neighbor_id"])
        if k in bf:
            assert r["cosine"] == bf[k]


def test_incremental_dedup_word_order_insensitive(spark, tmp_path):
    """A new-batch doc whose distinct token SET matches an existing doc
    must collide (bag-of-words canonical form is order-insensitive and
    repeat-insensitive); a genuinely new doc is novel."""
    d = _write_docs(tmp_path, [
        (3, "the cat sat down"),              # existing corpus
        (7, "other existing page words"),     # existing corpus
        (10, "down sat the cat cat"),         # new: shuffled + repeated
        (20, "totally fresh words here"),     # new: novel
    ])
    rows = {
        r["doc_id"]: (r["novel"], r["dup_of"])
        for r in entry.queries()["dedup_incremental"](spark, d).collect()
    }
    assert set(rows) == {10, 20}  # only the new batch is emitted
    assert rows[10] == (False, 3)
    assert rows[20] == (True, None)


def test_incremental_near_dedup_semantics(spark, tmp_path):
    """A new-batch doc that is a NEAR (not exact) duplicate of an
    existing doc — one appended token, shingle Jaccard 6/7 — must be
    caught via the band-index probe + exact-Jaccard verify; a disjoint
    new doc stays novel.  Deterministic: the MinHash sketches have no
    RNG, so the band collision either always or never happens (verified
    pinned here)."""
    d = _write_docs(tmp_path, [
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (7, "other existing page words entirely different"),
        (10, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (20, "totally fresh words here nothing shared at all"),
    ])
    rows = {
        r["doc_id"]: (r["novel"], r["dup_of"])
        for r in entry.queries()["dedup_incremental_near"](spark, d).collect()
    }
    assert set(rows) == {10, 20}
    assert rows[10] == (False, 3)   # near-dup found through the index
    assert rows[20] == (True, None)


def test_incremental_near_agrees_with_batch_pipeline_ground_truth(spark):
    """Cross-validation at sf0.001: every (new doc -> dup_of) hit must
    be a genuine full-universe Jaccard >= threshold pair, and every
    exact-Jaccard STRONG near-dup (>= 0.8) between a batch doc and an
    existing doc must be found (band-agreement probability at j=0.8 is
    1-(1-0.8^4)^8 ~ 0.98 per pair; asserted exactly here since the
    sketch is deterministic for this pinned input)."""
    from document_extraction_service_spark.operators.dedup import (
        INCR_NEW_MOD, JACCARD_THRESHOLD,
    )

    got = {
        r["doc_id"]: r["dup_of"]
        for r in entry.queries()["dedup_incremental_near"](spark, SF_DIR).collect()
        if not r["novel"]
    }
    # ground truth: uncapped pairwise Jaccard, computed in DuckDB
    truth = duckdb.sql(f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM '{SF_DIR}/documents.parquet'),
        sh AS (SELECT DISTINCT doc_id, u.shingle FROM toks,
               UNNEST(CASE WHEN len(t) >= 3
                      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN range(1, len(t) - 1)]
                      ELSE [array_to_string(t, ' ')] END) AS u(shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.shingle = b.shingle
          WHERE a.doc_id % {INCR_NEW_MOD} = 0 AND b.doc_id % {INCR_NEW_MOD} != 0
          GROUP BY 1, 2)
        SELECT new_id, old_id,
               c * 1.0 / (sa.n + sb.n - c) AS jac
        FROM pairs JOIN sizes sa ON sa.doc_id = new_id
                   JOIN sizes sb ON sb.doc_id = old_id
    """).fetchall()
    jac_of = {(n, o): j for n, o, j in truth}
    # soundness: every reported dup is a true >= threshold pair
    for new_id, old_id in got.items():
        assert jac_of.get((new_id, old_id), 0.0) >= JACCARD_THRESHOLD, \
            f"{new_id}->{old_id} reported but not a true near-dup"
    # completeness on strong pairs
    strong = {n for (n, o), j in jac_of.items() if j >= 0.8}
    assert strong <= set(got), f"missed strong near-dups: {strong - set(got)}"


def test_incremental_emb_dedup_consistency(spark):
    """dedup_incremental_emb structural checks at sf0.001: only batch
    vec_ids are emitted, every dup_of is an existing (non-batch) vec
    with true left-fold cosine >= threshold, and collisions are
    nontrivial on the clustered synthetic embeddings."""
    from document_extraction_service_spark.operators.dedup import (
        EMB_COS_THRESHOLD, INCR_NEW_MOD,
    )

    rows = entry.queries()["dedup_incremental_emb"](spark, SF_DIR).collect()
    assert rows and all(r["vec_id"] % INCR_NEW_MOD == 0 for r in rows)
    dups = {r["vec_id"]: r["dup_of"] for r in rows if not r["novel"]}
    assert len(dups) >= len(rows) // 4, "collision signal collapsed"
    assert all(o % INCR_NEW_MOD != 0 for o in dups.values())
    # verify a sample of reported pairs against exact cosine in DuckDB
    import math

    vecs = {
        int(r[0]): list(r[1])
        for r in duckdb.sql(
            f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchall()
    }

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        return dot / (math.sqrt(na) * math.sqrt(nb))

    for new_id, old_id in list(dups.items())[:20]:
        assert fold_cos(vecs[new_id], vecs[old_id]) >= EMB_COS_THRESHOLD


def test_token_budget_packs_best_quality_first(spark, plan_text):
    """curate_token_budget semantics at sf0.001: kept token mass lands
    within boundary-bin sampling noise of the target fraction; keeps
    are quality-monotone (at most ONE mixed bin — the boundary — with
    full bins above it and empty bins below); the doc side joins the
    32-row rule by broadcast."""
    from document_extraction_service_spark.operators.curation import (
        TOKEN_BUDGET_FRACTION,
    )

    df = entry.queries()["curate_token_budget"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    total = sum(r["n_tokens"] for r in rows)
    kept = sum(r["n_tokens"] for r in rows if r["kept"])
    assert abs(kept / total - TOKEN_BUDGET_FRACTION) < 0.05, kept / total
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["qbin"], []).append(r["kept"])
    mixed = sorted(b for b, ks in by_bin.items() if any(ks) and not all(ks))
    assert len(mixed) <= 1, f"more than one boundary bin: {mixed}"
    if mixed:
        b = mixed[0]
        assert all(all(ks) for bb, ks in by_bin.items() if bb > b)
        assert all(not any(ks) for bb, ks in by_bin.items() if bb < b)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan


def test_passage_dedup_finds_copied_paragraph(spark, tmp_path):
    """Two docs that differ everywhere except one copied 60-token
    paragraph must pair (whole-doc Jaccard would miss them); an
    unrelated doc stays out.  Deterministic: mod-p sampling of
    Rabin-Karp window hashes has no RNG — the shared paragraph yields
    the same 5 sampled fingerprints in both docs (pinned)."""
    shared = " ".join(f"shared{i} token{i}" for i in range(30))
    d = _write_docs(tmp_path, [
        (1, "intro about apples and fruit markets generally speaking "
            + shared + " closing thoughts on apples"),
        (2, "completely different essay on trains and rails "
            + shared + " terminus notes about stations"),
        (3, "unrelated text about rivers lakes and mountains with no "
            "copied content at all whatsoever here"),
    ])
    rows = [(r["doc_a"], r["doc_b"], r["n_shared_passages"])
            for r in entry.queries()["dedup_passage"](spark, d).collect()]
    assert rows == [(1, 2, 5)]


def test_host_quality_flags_whole_hosts(spark):
    """web_host_quality semantics: every doc of one host carries the
    same (rate, flag); flagged iff rate < HOST_MIN_PASS; both flagged
    and unflagged hosts exist at sf0.001 (threshold is informative)."""
    from document_extraction_service_spark.operators.weburl import HOST_MIN_PASS

    rows = entry.queries()["web_host_quality"](spark, SF_DIR).collect()
    assert len(rows) == 500
    per_host = {}
    for r in rows:
        per_host.setdefault(r["host"], set()).add(
            (r["host_pass_rate"], r["host_flagged"])
        )
    assert all(len(v) == 1 for v in per_host.values()), "host rows disagree"
    flags = {h: next(iter(v)) for h, v in per_host.items()}
    assert all(flag == (rate < HOST_MIN_PASS) for rate, flag in flags.values())
    assert any(f for _, f in flags.values()) and not all(f for _, f in flags.values())
