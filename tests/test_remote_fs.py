"""Remote-filesystem dispatch (round-9 verdict item 8).

The reference ships dedicated URL-resolution logic + tests
(petastorm/fs_utils.py:41-218); this engine delegates to two real
resolvers — the live JVM's Hadoop FileSystem API (sidecar/metadata
writes, `_fs_and_path`) and pyarrow's `FileSystem.from_uri` (the
reader's direct stream tier). No network exists in the sandbox, so
these tests stub the IMPLEMENTATION behind a remote scheme while the
genuine dispatch machinery (Hadoop `Path.getFileSystem` consulting
`fs.<scheme>.impl`; `_resolve_fs` routing non-local schemes through
`from_uri`) runs for real on `s3a://` URLs.
"""
from __future__ import annotations

import types

import numpy as np
import pytest

from petastorm_spark.reader import make_batch_reader


def test_hadoop_s3a_scheme_dispatch(spark):
    """`_fs_and_path` resolves s3a:// through the Hadoop config's
    fs.s3a.impl key: with a stub implementation class registered, the
    returned filesystem IS that class and the Path keeps the full URL —
    the same dispatch that selects hadoop-aws's S3AFileSystem on a real
    cluster. An unregistered scheme must raise, proving the config is
    consulted rather than silently falling back to the local FS."""
    from petastorm_spark.etl.dataset_metadata import _fs_and_path

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = conf.get("fs.s3a.impl")  # Spark presets S3AFileSystem...
    # ...but the sandbox classpath has no hadoop-aws jar to load it from
    conf.set("fs.s3a.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.set("fs.s3a.impl.disable.cache", "true")
    try:
        fs, path = _fs_and_path(spark, "s3a://bucket/warehouse/ds")
        assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
        assert str(path) == "s3a://bucket/warehouse/ds"
    finally:
        if saved is not None:
            conf.set("fs.s3a.impl", saved)
        else:
            conf.unset("fs.s3a.impl")
        conf.unset("fs.s3a.impl.disable.cache")
    # a scheme with NO registered impl -> Hadoop refuses it outright
    # (never a silent local-FS fallback)
    with pytest.raises(Exception, match="(?i)nosuchscheme"):
        fs, path = _fs_and_path(spark, "nosuchscheme://bucket/ds")
        fs.exists(path)


def test_pyarrow_remote_url_reads_end_to_end(spark, tmp_path, monkeypatch):
    """The reader's direct tier on a remote-scheme URL: make_batch_reader
    over ``s3a://bucket/ds`` with ``FileSystem.from_uri`` stubbed to a
    recorder that serves a local directory. Everything else — scheme
    detection in `_resolve_fs`, recursive file listing, row-group reads,
    decode — runs the genuine code path, proving a remote dataset only
    needs `from_uri` to hand back a working filesystem."""
    import pyarrow.fs as real_pafs

    import petastorm_spark.reader as reader_mod

    roots = {}
    for name, lo, hi in (("a", 0, 60), ("b", 60, 100)):
        root = str(tmp_path / name)
        spark.range(lo, hi).selectExpr("id", "id * 2 AS v").repartition(
            2
        ).write.parquet(root)
        roots[f"s3a://bucket/{name}"] = root

    seen_uris = []

    def fake_from_uri(uri):
        seen_uris.append(uri)
        return real_pafs.LocalFileSystem(), roots[uri]

    shim = types.SimpleNamespace(
        LocalFileSystem=real_pafs.LocalFileSystem,
        FileSelector=real_pafs.FileSelector,
        FileType=real_pafs.FileType,
        FileSystem=types.SimpleNamespace(from_uri=fake_from_uri),
    )
    monkeypatch.setattr(reader_mod, "pafs", shim)

    # single-URL form (plan tier unavailable -> footer-schema fallback)
    with make_batch_reader("s3a://bucket/a", spark=spark) as r:
        assert r.dataframe is None  # no JVM filesystem for the scheme
        ids = np.sort(np.concatenate([b.id for b in r]))
    np.testing.assert_array_equal(ids, np.arange(60))
    assert "s3a://bucket/a" in seen_uris

    # multi-URL form: shard schema validation also via pyarrow footers
    with make_batch_reader(
        ["s3a://bucket/a", "s3a://bucket/b"], spark=spark
    ) as r:
        ids = np.sort(np.concatenate([b.id for b in r]))
    np.testing.assert_array_equal(ids, np.arange(100))

    # DNF filters still evaluate on the direct tier
    with make_batch_reader(
        ["s3a://bucket/a", "s3a://bucket/b"],
        spark=spark,
        filters=[("id", ">=", 90)],
    ) as r:
        ids = np.sort(np.concatenate([b.id for b in r]))
    np.testing.assert_array_equal(ids, np.arange(90, 100))


def test_remote_multi_url_evolution_keeps_added_columns(spark, tmp_path, monkeypatch):
    """schema_evolution over several JVM-unreachable URLs unions the
    footers of every file under every URL, as a single URL and a local
    multi-URL read do: a column that only a later file of the first URL
    carries stays in the schema and its values reach the rows."""
    import pyarrow as pa
    import pyarrow.fs as real_pafs
    import pyarrow.parquet as pq

    import petastorm_spark.reader as reader_mod

    roots = {}
    for name in ("a", "b"):
        root = tmp_path / name
        root.mkdir()
        roots[f"s3a://bucket/{name}"] = str(root)
    pq.write_table(
        pa.table({"id": [1, 2], "v": [1.0, 2.0]}), str(tmp_path / "a" / "part-0.parquet")
    )
    pq.write_table(
        pa.table({"id": [3], "v": [3.0], "extra": ["new"]}),
        str(tmp_path / "a" / "part-1.parquet"),
    )
    pq.write_table(
        pa.table({"id": [4], "v": [4.0]}), str(tmp_path / "b" / "part-0.parquet")
    )
    shim = types.SimpleNamespace(
        LocalFileSystem=real_pafs.LocalFileSystem,
        FileSelector=real_pafs.FileSelector,
        FileType=real_pafs.FileType,
        FileSystem=types.SimpleNamespace(
            from_uri=lambda uri: (real_pafs.LocalFileSystem(), roots[uri])
        ),
    )
    monkeypatch.setattr(reader_mod, "pafs", shim)

    def extra_by_id(urls):
        with make_batch_reader(urls, spark=spark, schema_evolution=True) as r:
            assert r.dataframe is None  # served by the pyarrow fallback
            assert sorted(r.schema.fields) == ["extra", "id", "v"], urls
            return {
                int(i): e for b in r for i, e in zip(b.id, b.extra)
            }

    assert extra_by_id("s3a://bucket/a") == {1: None, 2: None, 3: "new"}
    assert extra_by_id(["s3a://bucket/a", "s3a://bucket/b"]) == {
        1: None, 2: None, 3: "new", 4: None,
    }
