from cosmospark.session import local_table


def test_local_table_takes_dict_rows_and_ddl(spark):
    """Dict rows are read by field name (a missing key is NULL) against a
    DDL schema, with nested maps and structs, into a LocalTableScan."""
    bbox = {"minx": 0.0, "miny": 1.0, "maxx": 2.0, "maxy": 3.0}
    df = local_table(
        spark,
        [{"id": 1, "tags": {"name": "a"}, "bbox": bbox, "unused": 0}, {"id": 2}],
        "id long, tags map<string,string>, "
        "bbox struct<minx:double,miny:double,maxx:double,maxy:double>",
    )
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [r.asDict(recursive=True) for r in df.orderBy("id").collect()] == [
        {"id": 1, "tags": {"name": "a"}, "bbox": bbox},
        {"id": 2, "tags": None, "bbox": None},
    ]
