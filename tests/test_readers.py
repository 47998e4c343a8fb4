"""The test-lake reader (`sources/readers.load_table`): its scan-plan
memo follows the files of a table's path."""

from __future__ import annotations


def _write_part(path, keys) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"r_regionkey": pa.array(keys, pa.int64())}), path)


def test_file_added_under_a_loaded_table_is_read_by_the_next_load(spark, tmp_path):
    from hogflare_spark.sources.readers import load_table

    table = tmp_path / "region.parquet"
    table.mkdir()
    _write_part(table / "part-0.parquet", [0, 1])
    first = load_table(spark, str(tmp_path), "region")
    assert first.count() == 2
    assert load_table(spark, str(tmp_path), "region") is first  # unchanged: memoized

    _write_part(table / "part-1.parquet", [2])
    again = load_table(spark, str(tmp_path), "region")
    assert sorted(r["r_regionkey"] for r in again.collect()) == [0, 1, 2]
