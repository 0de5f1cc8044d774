"""Sources (S1-S8, S11, S14) and streaming dynamic graph (X1-X4)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from graphchi_cpp_spark.sources.matrix_market import (
    kfold_split,
    read_matrix_market,
    write_matrix_market,
)
from graphchi_cpp_spark.sources.readers import (
    densify_ids,
    read_adjacency_list,
    read_cassovary,
    read_edge_list,
    read_metis,
    read_multi_value_edge_list,
    relabel_by_degree,
)
from graphchi_cpp_spark.streaming.ingest import DynamicGraph, run_streaming_pagerank


@pytest.fixture(scope="module")
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def _write(tmpdir, name, content):
    p = os.path.join(tmpdir, name)
    with open(p, "w") as f:
        f.write(content)
    return p


def test_edge_list(spark, tmpdir):
    p = _write(tmpdir, "e.txt", "# comment\n0 1\n1,2\n2\t0\n3 3\n% also comment\n")
    e = read_edge_list(spark, p)
    assert {(r["src"], r["dst"]) for r in e.collect()} == {(0, 1), (1, 2), (2, 0)}


def test_edge_list_with_values(spark, tmpdir):
    p = _write(tmpdir, "ev.txt", "0 1 0.5\n1 2 2.5\n")
    e = read_edge_list(spark, p, has_value=True)
    assert {(r["src"], r["dst"], r["weight"]) for r in e.collect()} == {
        (0, 1, 0.5), (1, 2, 2.5)
    }


def test_multi_value_edge_list(spark, tmpdir):
    p = _write(tmpdir, "mv.txt", "0 1 1.0:2.0:3.0\n")
    e = read_multi_value_edge_list(spark, p)
    r = e.collect()[0]
    assert (r["src"], r["dst"], r["values"]) == (0, 1, [1.0, 2.0, 3.0])


def test_adjacency_list(spark, tmpdir):
    p = _write(tmpdir, "adj.txt", "0 2 1 2\n5 1 0\n")
    e = read_adjacency_list(spark, p)
    assert {(r["src"], r["dst"]) for r in e.collect()} == {(0, 1), (0, 2), (5, 0)}


def test_metis(spark, tmpdir):
    p = _write(tmpdir, "m.graph", "3 2\n2 3\n1\n1\n")
    e = read_metis(spark, p)
    assert {(r["src"], r["dst"]) for r in e.collect()} == {
        (1, 2), (1, 3), (2, 1), (3, 1)
    }


def test_cassovary(spark, tmpdir):
    p = _write(tmpdir, "c.txt", "0 2\n1\n2\n5 1\n0\n")
    e = read_cassovary(spark, p)
    assert {(r["src"], r["dst"]) for r in e.collect()} == {(0, 1), (0, 2), (5, 0)}


def test_matrix_market_roundtrip(spark, tmpdir):
    p = _write(
        tmpdir,
        "r.mm",
        "%%MatrixMarket matrix coordinate real general\n"
        "% comment\n3 4 3\n1 1 5.0\n2 3 3.0\n3 4 1.0\n",
    )
    r = read_matrix_market(spark, p)
    got = {(x["user"], x["item"], x["rating"]) for x in r.collect()}
    assert got == {(0, 0, 5.0), (1, 2, 3.0), (2, 3, 1.0)}
    out = os.path.join(tmpdir, "out_mm")
    write_matrix_market(r, out)
    back = read_matrix_market(spark, out)
    assert {tuple(x) for x in back.collect()} == got


def test_binary_edge_list_reader(spark, tmpdir):
    """S5: (uint32, uint32[, float]) raw records across multiple files."""
    import struct

    from graphchi_cpp_spark.sources.readers import read_binary_edge_list

    d = os.path.join(tmpdir, "binedges")
    os.makedirs(d)
    with open(os.path.join(d, "part0.bin"), "wb") as f:
        f.write(struct.pack("<IIII", 0, 1, 2, 3))  # edges (0,1) (2,3)
    with open(os.path.join(d, "part1.bin"), "wb") as f:
        f.write(struct.pack("<II", 7, 9))
    e = read_binary_edge_list(spark, d)
    assert {(r["src"], r["dst"]) for r in e.collect()} == {(0, 1), (2, 3), (7, 9)}

    dv = os.path.join(tmpdir, "binedges_w")
    os.makedirs(dv)
    with open(os.path.join(dv, "w.bin"), "wb") as f:
        f.write(struct.pack("<IIf", 1, 2, 0.5) + struct.pack("<IIf", 3, 4, 1.5))
    ew = read_binary_edge_list(spark, dv, value_format="f4")
    got = {(r["src"], r["dst"], r["weight"]) for r in ew.collect()}
    assert got == {(1, 2, 0.5), (3, 4, 1.5)}

    # trailing bytes (wrong value_format / corrupt file) must fail loudly,
    # not silently drop records (ADVICE r3)
    import pytest as _pytest

    dt = os.path.join(tmpdir, "binedges_trunc")
    os.makedirs(dt)
    with open(os.path.join(dt, "t.bin"), "wb") as f:
        f.write(struct.pack("<III", 0, 1, 2))  # 12 bytes ≠ k·8
    with _pytest.raises(Exception, match="not a multiple"):
        read_binary_edge_list(spark, dt).collect()


def test_matrix_market_distributed_roundtrip_sf01(spark, tmpdir):
    """sf0.1-scale round-trip (~600k rows): the writer formats rows on
    executors and the driver only streams part-file bytes — no collect."""
    import os

    from graphchi_cpp_spark.datasets import ratings

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
        import pytest

        pytest.skip("sf0.1 testdata not present")
    r = ratings(spark, sf_dir)
    out = os.path.join(tmpdir, "big.mm")
    write_matrix_market(r, out, comment="sf0.1 ratings")
    back = read_matrix_market(spark, out)
    assert back.count() == r.count()
    j = back.withColumnRenamed("rating", "r2").join(r, ["user", "item"])
    mism = j.filter(F.abs(F.col("r2") - F.col("rating")) > 1e-9).count()
    assert mism == 0


def test_kfold_split(spark, sf_dir):
    from graphchi_cpp_spark.datasets import ratings

    r = ratings(spark, sf_dir)
    total = r.count()
    train = kfold_split(r, 5, 0, training=True)
    val = kfold_split(r, 5, 0, training=False)
    assert train.count() + val.count() == total
    assert 0 < val.count() < total
    assert train.join(val, ["user", "item"]).count() == 0


def test_densify_ids(spark):
    e = spark.createDataFrame([("x", "y"), ("y", "z")], ["src", "dst"])
    out, mapping = densify_ids(e)
    assert {(r["src"], r["dst"]) for r in out.collect()} == {(0, 1), (1, 2)}
    assert mapping.count() == 3


def test_relabel_by_degree(spark):
    # star: center 9 (deg 3), leaves deg 1 → center gets the highest id
    e = spark.createDataFrame([(9, 1), (9, 2), (9, 3)], ["src", "dst"])
    out, mapping = relabel_by_degree(e)
    m = {r["id"]: r["new_id"] for r in mapping.collect()}
    assert m[9] == 3  # highest degree → last dense id


def test_dynamic_graph_lifecycle(spark):
    base = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    dg = DynamicGraph(base)
    dg.ingest_batch(
        spark.createDataFrame(
            [(2, 0, "add"), (0, 1, "delete")], ["src", "dst", "op"]
        )
    )
    vis = {(r["src"], r["dst"]) for r in dg.edges().collect()}
    assert vis == {(1, 2), (2, 0)}  # add visible, tombstone applied
    assert dg.should_compact()  # 2 buffered vs 2 base > 20%
    dg.compact()
    assert dg.buffer is None
    assert {(r["src"], r["dst"]) for r in dg.base.collect()} == {(1, 2), (2, 0)}


def test_streaming_pagerank_matches_batch_on_final_graph(spark):
    from graphchi_cpp_spark.algos.pagerank import pagerank
    from graphchi_cpp_spark.graph import PropertyGraph

    base = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    batches = [
        spark.createDataFrame([(2, 0, "add")], ["src", "dst", "op"]),
        spark.createDataFrame([(2, 1, "add")], ["src", "dst", "op"]),
    ]
    dg = DynamicGraph(base)
    streamed = run_streaming_pagerank(dg, batches, supersteps_per_batch=30)
    final_edges = dg.edges()
    batch_ranks = pagerank(PropertyGraph.from_edges(final_edges), max_iter=60)
    s = {r["id"]: r["rank"] for r in streamed.collect()}
    b = {r["id"]: r["rank"] for r in batch_ranks.collect()}
    for k in b:
        assert s[k] == pytest.approx(b[k], abs=1e-4)  # converged to same fixpoint


def test_streaming_pagerank_join_plan(spark, monkeypatch):
    """The plan above the broadcast row cap, forced with a cap of 0:
    each batch re-caches its edges by src and chains its supersteps
    lazily (the scale path the bench's small stream never reaches)."""
    import graphchi_cpp_spark.algos.pagerank as pr
    from graphchi_cpp_spark.graph import PropertyGraph

    monkeypatch.setattr(pr, "broadcast_row_cap", lambda spark, bytes_per_row: 0)
    base = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    batches = [
        spark.createDataFrame([(2, 0, "add")], ["src", "dst", "op"]),
        spark.createDataFrame([(2, 1, "add")], ["src", "dst", "op"]),
    ]
    dg = DynamicGraph(base)
    streamed = run_streaming_pagerank(dg, batches, supersteps_per_batch=30)
    batch_ranks = pr.pagerank(PropertyGraph.from_edges(dg.edges()), max_iter=60)
    s = {r["id"]: r["rank"] for r in streamed.collect()}
    b = {r["id"]: r["rank"] for r in batch_ranks.collect()}
    for k in b:
        assert s[k] == pytest.approx(b[k], abs=1e-4)


def test_parse_cdr(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import parse_cdr

    p = _write(
        tmpdir,
        "cdr.txt",
        "2011-12-05 00:00:00\t15\t22\t1\t39\n"
        "2011-12-05 00:00:00\t15\t134\t1\t482\n"
        "garbage line without tabs\n"
        "2011-12-06 10:30:00\t22\t15\t2\t100\n",
    )
    out = parse_cdr(spark.read.text(p)).orderBy("src", "dst").collect()
    assert len(out) == 3
    assert (out[0]["src"], out[0]["dst"], out[0]["calls"]) == (15, 22, 1)
    assert str(out[2]["day"]) == "2011-12-06"
    assert out[2]["duration_s"] == 100


def test_parse_twitter(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import parse_twitter

    p = _write(
        tmpdir,
        "tweets.txt",
        "T\t2009-06-01 00:00:00\n"
        "U\thttp://twitter.com/XLamp\n"
        "W\t@Alice hello RT @bob nice one http://t.co/x\n"
        "T\t2009-06-01 00:01:00\n"
        "U\thttp://twitter.com/alice\n"
        "W\tno mentions here\n"
        "W\t@toolongusername12345 ignored, @ok_name kept\n",
    )
    edges, mapping = parse_twitter(spark.read.text(p))
    m = {r["orig"]: r["dense_id"] for r in mapping.collect()}
    got = {
        (r["src"], r["dst"], r["ts"]) for r in edges.collect()
    }
    # xlamp -> alice and xlamp -> bob at t0; alice -> ok_name at t1
    # (the >15-char mention is rejected like assign_id does)
    t0 = edges.agg(F.min("ts")).collect()[0][0]
    t1 = edges.agg(F.max("ts")).collect()[0][0]
    assert t1 - t0 == 60
    assert (m["xlamp"], m["alice"], t0) in got
    assert (m["xlamp"], m["bob"], t0) in got
    assert (m["alice"], m["ok_name"], t1) in got
    assert len(got) == 3


def test_parse_delimited_with_header_to_featurize(spark, tmpdir):
    from graphchi_cpp_spark.cf.fm import featurize
    from graphchi_cpp_spark.sources.parsers import parse_delimited_with_header

    p = _write(
        tmpdir,
        "nb.csv",
        "label,word,doc\nspam,viagra,d1\nham,hello,d2\nspam,deal,d1\n",
    )
    df = parse_delimited_with_header(spark.read.text(p))
    assert df.columns == ["label", "word", "doc"]
    assert df.count() == 3
    out, mapping = featurize(df, categorical=["label", "word", "doc"])
    # labels {ham,spam} -> 2 codes, words 3, docs 2 -> 7 feature ids
    assert mapping.count() == 7
    assert out.select("_feat_0", "_feat_1", "_feat_2").distinct().count() == 3


def test_parse_texttokens(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import parse_texttokens

    p = _write(
        tmpdir,
        "docs.txt",
        "the cat, sat on the mat!\n"
        "a cat and a dog\n"  # 1-char tokens 'a' dropped
        "\n"
        "rare word\n",
    )
    out, mapping = parse_texttokens(spark.read.text(p))
    m = {r["orig"]: r["dense_id"] for r in mapping.collect()}
    # sorted vocab gets consecutive ids 0..V-1
    assert sorted(m.values()) == list(range(len(m)))
    assert "a" not in m
    bow = {
        (r["line_id"], r["token_id"]): r["count"] for r in out.collect()
    }
    assert bow[(0, m["the"])] == 2
    assert bow[(1, m["cat"])] == 1
    # global frequency thresholds: min 2 keeps only 'the' and 'cat'
    out2, map2 = parse_texttokens(spark.read.text(p), min_threshold=2)
    assert {r["orig"] for r in map2.collect()} == {"the", "cat"}
    assert out2.count() == 3  # the(l0), cat(l0), cat(l1)


def test_count_values(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import count_values

    p = _write(
        tmpdir, "vals.txt", "%%header\n10 10\n1\n2\n2\n3\n3\n3\n"
    )
    got = {r["value"]: r["count"] for r in count_values(spark.read.text(p)).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_parse_ips(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import parse_ips

    p = _write(
        tmpdir,
        "calls.txt",
        "10.0.0.1 10.0.0.2 5\n"
        "999.0.0.1 10.0.0.2 7\n"  # invalid caller dropped
        "10.0.0.2 10.0.0.1 3\n",
    )
    edges, mapping = parse_ips(spark.read.text(p))
    rows = {(r["src"], r["dst"], r["attribute"]) for r in edges.collect()}
    assert len(rows) == 2
    assert mapping.count() == 2  # two distinct valid IPs, shared space
    ids = {r["dense_id"] for r in mapping.collect()}
    assert ids == {0, 1}
    assert (0, 1, "5") in rows and (1, 0, "3") in rows


def test_aggregate_edge_column(spark, tmpdir):
    from graphchi_cpp_spark.sources.parsers import aggregate_edge_column

    p = _write(
        tmpdir,
        "agg.txt",
        "1 2 10 99\n1 2 5 99\n2 3 7 1\nbad line here x\n",
    )
    got = {
        (r["src"], r["dst"]): r["total"]
        for r in aggregate_edge_column(spark.read.text(p), col=3).collect()
    }
    assert got == {(1, 2): 15.0, (2, 3): 7.0}


def test_parse_consecutive_longs(spark):
    from graphchi_cpp_spark.sources.parsers import parse_consecutive_longs

    edges = spark.createDataFrame(
        [("u9", "m7", 4.0), ("u3", "m7", 2.0), ("u9", "m1", 5.0)],
        ["src", "dst", "rating"],
    )
    # separate id spaces: users 0..1, items 0..1
    out, smap, dmap = parse_consecutive_longs(edges, single_domain=False)
    s = {r["orig"]: r["dense_id"] for r in smap.collect()}
    d = {r["orig"]: r["dense_id"] for r in dmap.collect()}
    assert s == {"u3": 0, "u9": 1} and d == {"m1": 0, "m7": 1}
    rows = {(r["src"], r["dst"], r["rating"]) for r in out.collect()}
    assert rows == {(1, 1, 4.0), (0, 1, 2.0), (1, 0, 5.0)}
    # shared id space: one dictionary over all 4 keys
    out1, m1, m2 = parse_consecutive_longs(edges, single_domain=True)
    assert m1.count() == 4 and m2.count() == 4
