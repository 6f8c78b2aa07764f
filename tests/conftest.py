import pytest


@pytest.fixture(scope="session")
def spark():
    from br_archive_spark.plans import get_spark

    spark = get_spark("local[4]", app_name="br-archive-spark-tests",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def as_crc32c():
    """Re-checksum every chunk of a manifest (a DataFrame, or an Arrow
    table or record batch) with CRC-32C and tag it ``"crc32c"``: the
    manifest a build from before CRC-32 chunks would have written."""

    def retag(tbl):
        import pyarrow as pa

        from br_archive_spark.integrity.crc import chunk_checksum

        crcs = [chunk_checksum(*[b for e in cols
                                 for b in (e["params"], e["payload"])],
                               algo="crc32c")
                for cols in tbl.column("columns").to_pylist()]
        new = {"checksum": pa.array(crcs, pa.int64()),
               "checksum_algo": pa.array(["crc32c"] * len(crcs),
                                         pa.string())}
        return type(tbl).from_arrays(
            [new.get(f.name, tbl.column(i))
             for i, f in enumerate(tbl.schema)], schema=tbl.schema)

    def as_crc32c(manifest):
        if hasattr(manifest, "mapInArrow"):
            return manifest.mapInArrow(lambda it: map(retag, it),
                                       manifest.schema)
        return retag(manifest)

    return as_crc32c
