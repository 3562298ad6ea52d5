"""IVF ANN recall vs brute force; connected-components dedup clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from document_ai_spark.operators.similarity import (
    connected_components,
    dedup_clusters,
    ivf_topk,
    probes_by_id,
)
from document_ai_spark.queries_ml import q_ann_cosine_topk

SF = "/root/testdata/sf0.001"


def test_ivf_recall_vs_brute_force(spark):
    brute = {r.vec_id for r in q_ann_cosine_topk(spark, SF).collect()[:10]}
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = ivf_topk(emb, probes_by_id(emb, [0]), k=10).collect()
    approx = {r.vec_id for r in got}
    assert all(r.probe_id == 0 for r in got)
    recall = len(brute & approx) / 10
    assert recall >= 0.5, f"IVF recall {recall} too low"


def test_ivf_topk_batched_probes(spark):
    """One job answers a probe TABLE: k rows per probe, descending
    cosine, probe never among its own candidates — and each probe's
    rows equal the single-probe answer (batching must not change
    results)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ids = [0, 1, 2]
    got = ivf_topk(emb, probes_by_id(emb, ids), k=5).collect()
    by_probe: dict[int, list] = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert sorted(by_probe) == ids
    for pid, rows in by_probe.items():
        assert len(rows) == 5
        assert all(r.vec_id != pid for r in rows)
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        single = ivf_topk(emb, probes_by_id(emb, [pid]), k=5).collect()
        assert [(r.vec_id, r.cosine) for r in single] == [
            (r.vec_id, r.cosine) for r in rows
        ]


def test_ivf_topk_external_probe_table(spark):
    """Probes need not come from the corpus: a query table with its own
    id space gets k candidates each, none excluded by accident."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.orderBy("vec_id").limit(2).collect()
    probes = spark.createDataFrame(
        [(1_000_000 + i, r.embedding) for i, r in enumerate(base)],
        "probe_id long, embedding array<float>",
    )
    got = ivf_topk(emb, probes, k=7).collect()
    by_probe: dict[int, list] = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert sorted(by_probe) == [1_000_000, 1_000_001]
    for pid, rows in by_probe.items():
        assert len(rows) == 7
        # the corpus twin of this probe has cosine 1.0 and ranks first
        assert rows[0].cosine == 1.0


def test_ivf_topk_zero_norm_probe_dropped(spark):
    """A zero vector has no cosine direction: it must contribute NO
    result rows (r5 ADVICE — it previously got NaN scores and arbitrary
    tie-broken lists), and other probes in the same table are
    unaffected."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.first().embedding)
    good = emb.orderBy("vec_id").first()
    probes = spark.createDataFrame(
        [(2_000_000, [0.0] * dim), (2_000_001, list(good.embedding))],
        "probe_id long, embedding array<float>",
    )
    got = ivf_topk(emb, probes, k=3).collect()
    assert {r.probe_id for r in got} == {2_000_001}
    assert len(got) == 3
    assert all(r.cosine == r.cosine for r in got)  # no NaN


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["src", "dst"],
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[20] == cc[21] == cc[22] == 20
    assert len(set(cc.values())) == 3


def test_connected_components_long_chain(spark):
    # diameter > 1 exercises multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    cc = connected_components(edges)
    assert cc.select("component").distinct().count() == 1
    assert cc.agg(F.min("component")).collect()[0][0] == 0
    assert cc.count() == 31


def test_dedup_clusters_keeper_policy(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (100, 101)], ["doc_a", "doc_b"]
    )
    rows = {r.doc_id: r for r in dedup_clusters(pairs).collect()}
    assert rows[5].is_keeper and rows[5].cluster_id == 5
    assert not rows[9].is_keeper and rows[9].cluster_id == 5
    assert not rows[7].is_keeper and rows[7].cluster_id == 5
    assert rows[100].is_keeper and not rows[101].is_keeper


def test_winnow_numpy_matches_pure_python_spec():
    """The vectorized winnowing kernel must equal a direct transcription of
    the spec (per-char Horner hash + per-window argmin with (value, pos)
    tie-break, each selected position recorded once)."""
    from document_ai_spark.queries_text import (
        _KGRAM,
        _RK_BASE,
        _RK_MOD,
        _WINDOW,
        _winnow_np,
    )

    def spec(s: str) -> list[tuple[int, int]]:
        n = len(s)
        if n < _KGRAM:
            return []
        hashes = []
        for i in range(n - _KGRAM + 1):
            h = 0
            for ch in s[i : i + _KGRAM]:
                h = (h * _RK_BASE + ord(ch)) % _RK_MOD
            hashes.append(h)
        out, last = [], -1
        for w in range(len(hashes) - _WINDOW + 1):
            m = min(range(_WINDOW),
                    key=lambda j: (hashes[w + j], j)) + w
            if m != last:
                out.append((m, hashes[m]))
                last = m
        return out

    texts = [
        "",
        "short",
        "exactly8",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaaaaaaaaa",       # degenerate: all-equal hashes
        "abcabcabcabcabcabcabcabc",      # periodic
        "unicode é中文 mixed codepoints here",
    ]
    for t in texts:
        pos, fp = _winnow_np(t)
        assert list(zip(pos.tolist(), fp.tolist())) == spec(t), t


def test_embedding_near_dups_non_vacuous(spark):
    """The near-dup gate must check real pairs: at the shipped threshold the
    driver tables yield a non-empty, label-blocked pair set."""
    from document_ai_spark.queries_ml import q_embedding_near_dups

    rows = q_embedding_near_dups(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r.cosine > 0.35 and r.id_a < r.id_b for r in rows)


def test_simhash_columnar_matches_per_token_spec(spark):
    """The SimHash Arrow stage (md5 bytes -> unpackbits votes -> packed
    sign bits) must equal the direct per-token md5 spec on the driver
    fixture corpus."""
    import hashlib

    import duckdb
    import numpy as np

    from document_ai_spark.queries_ml import q_simhash

    def spec(text: str) -> int:
        acc = np.zeros(64, dtype=np.int64)
        for tok in (text or "").split():
            h = np.uint64(int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "big"))
            bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            acc += np.where(bits == np.uint64(1), 1, -1)
        sh = int(((acc > 0).astype(np.uint64)
                  << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
        return sh - (1 << 64) if sh >= (1 << 63) else sh

    docs = duckdb.sql(
        "SELECT doc_id, text FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).df()
    expected = {int(r.doc_id): spec(r.text) for r in docs.itertuples()}
    got = {
        r.doc_id: r.simhash
        for r in q_simhash(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected


def test_ivf_quantizer_fit_is_sample_bounded(spark, monkeypatch):
    """The KMeans coarse quantizer must train on a bounded sample, never the
    full vector table (clusterSizes sums to the fit input rows)."""
    from document_ai_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")  # 500 vectors
    monkeypatch.setattr(S, "N_FIT_SAMPLE", 64)
    model, assigned = S.build_ivf_index(emb, n_lists=8)
    assert sum(model.summary.clusterSizes) <= 64
    assert assigned.count() == emb.count()  # full table still assigned


def _rdd_lineage(df) -> str:
    """toRdd's lineage plus the lineage of every RDD-backed leaf of the
    optimized plan: a broadcast side runs as its own job, so its RDD
    never shows in the consumer's toRdd lineage."""
    qe = df._jdf.queryExecution()
    text = [qe.toRdd().toDebugString()]
    leaves = qe.optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            text.append(leaf.rdd().toDebugString())
    return "\n".join(text)


def test_driver_built_frames_have_no_python_rdd(spark):
    """Frames built on the driver (union-find labels, the funnel's
    cluster labels) reach the JVM as Arrow-built local relations: a
    plain PythonRDD would start a second Python daemon and worker pool
    beside the SQL one."""
    import __spark_entry__ as entrymod

    frames = {
        f"labels {ddl} x{len(rows)}": connected_components(
            spark.createDataFrame(rows, ddl)
        )
        for rows, ddl in (
            ([("a", "b"), ("b", "c")], "src string, dst string"),
            ([(1, 2), (3, 4)], "src bigint, dst bigint"),
            ([], "src bigint, dst bigint"),
        )
    }
    frames["curation_funnel"] = entrymod.queries()["curation_funnel"](
        spark, SF
    )
    with_rdd = [k for k, df in frames.items()
                if "PythonRDD" in _rdd_lineage(df)]
    assert with_rdd == []
    assert frames["labels src bigint, dst bigint x0"].count() == 0


def test_local_frame_matches_create_dataframe(spark):
    """The Arrow-built frame carries the same schema and rows as
    createDataFrame over the same list, timestamps included (naive
    datetimes are local time in both)."""
    from datetime import datetime

    from pyspark.sql import Row

    from document_ai_spark.operators.lineage import LINEAGE_SCHEMA
    from document_ai_spark.session import local_frame

    lineage = [
        Row(run_id="r", shard_id=3, docs=7, bytes=900, parse_failures=1,
            started_ts=datetime(2026, 1, 2, 3, 4, 5, 6),
            finished_ts=datetime.fromtimestamp(1.8e9), status="done"),
        Row(run_id=None, shard_id=None, docs=None, bytes=None,
            parse_failures=None, started_ts=None, finished_ts=None,
            status=None),
    ]
    for rows, schema in (
        (lineage, LINEAGE_SCHEMA),
        ([(0, [1.0, -2.5]), (1, [])], "list_id INT, center ARRAY<DOUBLE>"),
        ([], "node string, component string"),
    ):
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert "PythonRDD" not in _rdd_lineage(got)
