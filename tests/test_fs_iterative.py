"""The shared helpers of the iterative operators (``fs.cut_observed``,
``fs.VertexCodec``) and the call-time read of SPARK_GRAFT_CUT_PROFILE."""

from pyspark.sql import functions as F

from spacy_llm_spark import fs


def test_vertex_codec_monotone_passthrough_and_cc(spark):
    from spacy_llm_spark.operators.canonicalize import connected_components

    conf = {
        "spark.sql.shuffle.partitions": "64",
        # AQE would coalesce the small sort output into one partition,
        # where monotone ids are trivial
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        # the order-preserving ids rest on monotonically_increasing_id
        # staying above the sort, which no Spark contract promises: pin
        # it over many input partitions and many shuffle partitions
        verts = (
            spark.range(3000)
            .select(F.format_string("v%d", (F.col("id") * 7919) % 3001).alias("v"))
            .repartition(37)
        )
        codec = fs.VertexCodec(verts)
        assert not codec.passthrough
        rows = codec.map.collect()
        assert len(rows) == 3000
        assert len({r.id >> 33 for r in rows}) > 30  # spread over partitions
        ids = [r.id for r in sorted(rows, key=lambda r: r.vertex)]
        assert all(a < b for a, b in zip(ids, ids[1:]))

        pairs = spark.createDataFrame(
            [("v1", "v2"), ("v5", "v1")], "s string, t string"
        )
        enc = codec.encode(pairs, "t", "s")
        assert enc.columns == ["s", "t"]
        assert dict(enc.dtypes) == {"s": "bigint", "t": "bigint"}
        assert sorted(codec.decode(enc, "s", "t").collect()) == sorted(
            pairs.collect()
        )

        # integral keys pass through: no map job, frames unchanged
        ints = spark.range(10).select(F.col("id").cast("int").alias("v"))
        icodec = fs.VertexCodec(ints)
        assert icodec.passthrough
        assert icodec.encode(ints, "v") is ints
        assert icodec.decode(ints, "v") is ints
        assert sorted(r.id for r in icodec.map.collect()) == list(range(10))

        # the encoded star rounds label components exactly like the
        # driver union-find path
        ids = F.col("id")
        cc_edges = (
            spark.range(2000)
            .select(
                F.format_string("n%d", ids).alias("src"),
                F.format_string("n%d", ids - ids % 50 + (7 * ids) % 50).alias("dst"),
            )
            .repartition(37)
        )
        dist = {
            r.node: r.component
            for r in connected_components(cc_edges, driver_threshold=0).collect()
        }
        driver = {r.node: r.component for r in connected_components(cc_edges).collect()}
        assert dist == driver
        assert len(set(dist.values())) > 1
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_cut_profile_env_read_at_call_time(spark, monkeypatch, capfd):
    df = spark.range(5)
    monkeypatch.setenv("SPARK_GRAFT_CUT_PROFILE", "1")
    capfd.readouterr()
    fs.cut_lineage(df)
    _, got = fs.cut_observed(df)
    fs.cut_lineage(df, eager=False)
    err = capfd.readouterr().err
    assert got == {"n": 5}
    assert len([ln for ln in err.splitlines() if ln.startswith("[cut]")]) == 2

    monkeypatch.delenv("SPARK_GRAFT_CUT_PROFILE")
    fs.cut_lineage(df)
    fs.cut_observed(df)
    err = capfd.readouterr().err
    assert not [ln for ln in err.splitlines() if ln.startswith("[cut]")]
