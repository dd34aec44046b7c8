"""The filesystem seam (sources/fs.py): one contract for LocalFS and the
fsspec s3 plane, and the metadata/maintenance operations that run over
it behaving the same on both — describe reports, deletion-vector
compaction, ANN-pinned vacuum — plus a static guard against location
twins growing back into the storage plane."""

from __future__ import annotations

import ast
import os

import pytest

from flink_connector_lance_spark.options import DatasetOptions, S3Options
from flink_connector_lance_spark.sources import fs as FS
from tests.test_s3_read import fake_s3  # noqa: F401  (fixture)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "flink_connector_lance_spark")


@pytest.mark.parametrize("plane", ["local", "s3"])
def test_seam_contract(fake_s3, tmp_path, plane):  # noqa: F811
    if plane == "local":
        fs, base = FS.get_fs(str(tmp_path)), str(tmp_path / "seam")
        assert isinstance(fs, FS.LocalFS)
    else:
        base = "s3://bucket/seam"
        fs = FS.get_fs(base, S3Options(
            endpoint=f"fake://{fake_s3}").to_storage_options())

    # single winner: a second exclusive create of the same key loses
    FS.create_exclusive(fs, f"{base}/_versions/0.manifest.json", b"{}")
    with pytest.raises(FileExistsError):
        FS.create_exclusive(fs, f"{base}/_versions/0.manifest.json", b"{}")
    assert FS.ls_names(fs, f"{base}/_versions") == ["0.manifest.json"]
    assert FS.ls_names(fs, f"{base}/missing") == []

    info = fs.info(f"{base}/_versions/0.manifest.json")
    assert info["size"] == 2 and info["mtime"] > 0

    # atomic small-object write: complete object, no temp key left over
    FS.write_atomic(fs, f"{base}/_versions/0.stats.json", b'{"a": 1}')
    with fs.open(f"{base}/_versions/0.stats.json", "rb") as fh:
        assert fh.read() == b'{"a": 1}'
    assert not any(n.endswith(".tmp")
                   for n in FS.ls_names(fs, f"{base}/_versions"))

    # recursive rm drops the whole prefix
    with fs.open(f"{base}/data/a/b.bin", "wb") as fh:
        fh.write(b"x")
    fs.rm(f"{base}/data", recursive=True)
    assert not fs.exists(f"{base}/data/a/b.bin")
    assert FS.ls_names(fs, f"{base}/data") == []


DESCRIBE_KEYS = {
    "path", "version", "versions", "num_fragments", "num_rows",
    "tombstoned_rows", "size_bytes", "schema_columns", "bloom", "indexes",
    "fts", "rollups", "clustering", "native_format",
}


@pytest.mark.parametrize("fmt", ["emulated", "native"])
@pytest.mark.parametrize("plane", ["local", "s3"])
def test_describe_same_on_every_backend(fake_s3, spark, tmp_path, plane,  # noqa: F811
                                        fmt):
    """Write, cluster, append and (native only) vector-delete the same
    rows on every {plane} x {format}; describe must report one key set
    and the same facts everywhere."""
    from flink_connector_lance_spark.sources.maintenance import (
        cluster_dataset,
        delete_rows,
        describe_dataset,
    )
    from flink_connector_lance_spark.sources.writer import (
        write_dataset,
        write_native_pure,
    )

    if plane == "local":
        s3, path = None, str(tmp_path / f"ds-{fmt}")
    else:
        s3 = S3Options(endpoint=f"fake://{fake_s3}")
        path = f"s3://bucket/wh/db1/ds-{fmt}"
    storage = s3.to_storage_options() if s3 is not None else None
    opts = DatasetOptions(path=path, s3=s3, bloom_columns=["id"])
    write = write_dataset if fmt == "emulated" else write_native_pure
    write(spark.range(80).selectExpr("id", "id % 4 AS g").repartition(2),
          path, mode="overwrite", options=opts)
    cluster_dataset(spark, path, ["id"], 40, s3=s3)
    write(spark.range(80, 90).selectExpr("id", "id % 4 AS g").coalesce(1),
          path, mode="append", options=opts)
    tombstoned = 0
    if fmt == "native":
        delete_rows(spark, path, "id < 5", s3=s3, use_deletion_vectors=True)
        tombstoned = 5

    rep = describe_dataset(path, storage_options=storage)
    assert set(rep) == DESCRIBE_KEYS
    assert rep["num_rows"] == 90 - tombstoned
    assert rep["tombstoned_rows"] == tombstoned
    first = 0 if fmt == "emulated" else 1
    n_versions = 3 if fmt == "emulated" else 4
    assert rep["versions"] == list(range(first, first + n_versions))
    assert rep["schema_columns"] == ["g", "id"]
    assert rep["size_bytes"] > 0
    assert rep["bloom"] is not None and rep["bloom"]["columns"] == ["id"]
    assert rep["clustering"] is not None
    assert rep["clustering"]["cluster_by"] == ["id"]
    assert rep["clustering"]["unclustered_rows"] == 10  # the tail append
    assert (rep["native_format"] is None) == (fmt == "emulated")
    assert rep["indexes"] == [] and rep["fts"] == [] and rep["rollups"] == []


def test_s3_compaction_materializes_deletion_vectors(fake_s3, spark):  # noqa: F811
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.maintenance import (
        compact_dataset,
        delete_rows,
        describe_dataset,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = "s3://bucket/wh/db1/dvcompact"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    write_native_pure(spark.range(1000).selectExpr("id").coalesce(1), url,
                      mode="overwrite", options=DatasetOptions(path=url, s3=s3))
    delete_rows(spark, url, "id % 3 = 0", s3=s3, use_deletion_vectors=True)
    desc = describe_dataset(url, storage_options=storage)
    assert desc["tombstoned_rows"] == 334 and desc["num_rows"] == 666

    compact_dataset(spark, url, s3=s3)
    desc = describe_dataset(url, storage_options=storage)
    assert desc["tombstoned_rows"] == 0 and desc["num_rows"] == 666
    mf = LF.read_native_manifest(url, storage_options=storage)
    assert all(fr.deletion is None for fr in mf.fragments)


def test_s3_vacuum_pins_ann_build_version(fake_s3, spark):  # noqa: F811
    from flink_connector_lance_spark.index import (
        _kind_metas,
        build_index,
        split_by_index_coverage,
    )
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset
    from flink_connector_lance_spark.sources.writer import write_dataset

    url = "s3://bucket/wh/db1/annvac"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=4)
    rows = [(i, [float(i % 13), float((i * 7) % 11)]) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    write_dataset(df.repartition(2), url, mode="overwrite", options=opts)
    res = build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                      options=opts)
    assert res.success, res.error
    built_at = _kind_metas(url, "vec", storage)["ivf"]["dataset_version"]
    built_files = {f.file for f in FR.read_manifest(url, built_at, storage).fragments}
    for lo in (1000, 2000):
        more = [(lo + i, [1.0, 2.0]) for i in range(5)]
        write_dataset(spark.createDataFrame(more, "id long, vec array<double>"),
                      url, mode="append", options=opts)

    rep = vacuum_dataset(url, keep_versions=1, staging_grace_seconds=0,
                         storage_options=storage)
    assert built_at in rep["kept_versions"]
    assert rep["kept_versions"] == sorted({built_at, built_at + 2})
    covered, uncovered = split_by_index_coverage(url, built_at, storage,
                                                 relative=True)
    assert set(covered) == built_files
    assert uncovered and not set(uncovered) & built_files  # the appends


STORAGE_PLANE = ("fragments", "lance_format", "catalog", "maintenance")
# the is_remote calls the storage plane keeps, by enclosing function:
# the emulated data-plane writer dispatch, vacuum's young-key rule, and
# the catalog's one s3 flag (rename refusal, default-db bootstrap)
IS_REMOTE_ALLOWED = {
    ("maintenance", "_plane"),
    ("maintenance", "_split_young"),
    ("catalog", "__init__"),
}
# executor-direct emulated rewrites: the s3 side of the writer fork
REMOTE_DEFS_ALLOWED = {
    ("maintenance", "_remote_reader"),
    ("maintenance", "_rewrite_commit_remote"),
    ("maintenance", "_delete_remote"),
    ("maintenance", "_compact_remote"),
    ("maintenance", "_merge_remote"),
    ("maintenance", "_cluster_remote"),
}


def _defs_and_remote_calls(mod: str):
    with open(os.path.join(PKG, "sources", f"{mod}.py")) as fh:
        tree = ast.parse(fh.read())
    defs, calls = set(), set()

    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            name = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.add(child.name)
                name = child.name
            if (isinstance(child, ast.Call)
                    and getattr(child.func, "id",
                                getattr(child.func, "attr", None)) == "is_remote"):
                calls.add(owner)
            walk(child, name)

    walk(tree, "<module>")
    return defs, calls


def test_no_location_twins_in_storage_plane():
    """Each metadata/maintenance operation is ONE function over the fs
    seam: no new ``_*_remote`` twin, and ``is_remote`` only where the
    data forces a fork."""
    for mod in STORAGE_PLANE:
        defs, calls = _defs_and_remote_calls(mod)
        twins = {(mod, d) for d in defs
                 if d.startswith("_remote") or d.endswith("_remote")}
        assert twins <= REMOTE_DEFS_ALLOWED, twins - REMOTE_DEFS_ALLOWED
        stray = {(mod, c) for c in calls} - IS_REMOTE_ALLOWED
        assert not stray, f"is_remote() outside the allow-list: {stray}"
