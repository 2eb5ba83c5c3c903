"""Metadata model, pk/fk join planner, pipeline compiler (SURVEY §2.2/2.3/2.4, §3.2)."""

import textwrap

import pytest

from datapipelines_essentials_python_spark.errors import JoinPlanError, MetadataValidationError
from datapipelines_essentials_python_spark.plans.compiler import PipelineCompiler
from datapipelines_essentials_python_spark.plans.datamodel import DataModel
from datapipelines_essentials_python_spark.plans.join_planner import plan_joins
from datapipelines_essentials_python_spark.plans.metadata import ColumnSpec, TableSpec, load_metadata_csv


@pytest.fixture
def retail(spark):
    """FIXTURES.md §1 retail star schema, with the reference's padded
    whitespace and blank dates."""
    product = spark.createDataFrame(
        [(1, " Soap ", 30), (2, "Rice", 80), (3, " Tea", 120), (4, "Oil", 200)],
        "id int, name string, price int",
    )
    store = spark.createDataFrame(
        [(1, "Dadar"), (2, "Thane"), (3, "Pune"), (4, "Nashik")],
        "id int, name string",
    )
    purchase = spark.createDataFrame(
        [
            (1, 1, "1/5/2023", 1),
            (2, 2, "", 1),
            (3, 2, "2/7/2023", 2),
            (4, 4, None, 3),
            (5, 1, "3/9/2023", 1),
        ],
        "id int, productid int, purchasedate string, storeid int",
    )
    return {"product": product, "store": store, "purchase": purchase}


def _retail_model() -> DataModel:
    model = DataModel()
    model.add_table("purchase", ["id"])
    model.add_table("product", ["id"])
    model.add_table("store", ["id"])
    model.add_fk("purchase", "product", ["productid"], ["id"], "left")
    model.add_fk("purchase", "store", ["storeid"], ["id"], "inner")
    return model


def test_plan_joins_bfs_order():
    steps = plan_joins(_retail_model(), "purchase")
    assert [(s.child, s.table, s.how) for s in steps] == [
        ("purchase", "product", "left"),
        ("purchase", "store", "inner"),
    ]


def test_plan_joins_errors():
    with pytest.raises(JoinPlanError):
        plan_joins(_retail_model(), "nope")
    cyclic = DataModel()
    cyclic.add_table("a", ["id"])
    with pytest.raises(JoinPlanError):
        cyclic.add_fk("a", "a", ["x"], ["id"])
        plan_joins(cyclic, "a")


def test_pipeline_compiler_end_to_end(spark, retail):
    tables = [
        TableSpec(
            name="purchase",
            order=0,
            columns=[
                ColumnSpec("purchase", "id", "purchase_id", target_type="int", is_pk=True),
                ColumnSpec("purchase", "purchasedate", "purchase_count",
                           target_type="long", aggregator="count"),
            ],
        ),
        TableSpec(
            name="product",
            order=1,
            columns=[
                ColumnSpec("product", "name", "product_name", udf="nvl", udf_args=("-",)),
            ],
        ),
        TableSpec(
            name="store",
            order=2,
            columns=[
                ColumnSpec("store", "name", "store_name", filter="eq('Dadar')"),
            ],
        ),
    ]
    compiler = PipelineCompiler(
        spark, tables, model=_retail_model(), main_table="purchase",
        broadcast_tables={"product", "store"},
    )
    out = compiler.compile(overrides=retail)
    rows = {
        (r["purchase_id"], r["product_name"], r["store_name"]): r["purchase_count"]
        for r in out.collect()
    }
    # inner join on store filtered to Dadar keeps purchases 1, 2, 5; nvl trims
    assert rows == {
        (1, "Soap", "Dadar"): 1,
        (2, "Rice", "Dadar"): 1,
        (5, "Soap", "Dadar"): 1,
    }


def test_aggregation_with_having(spark, retail):
    tables = [
        TableSpec(
            name="purchase",
            columns=[
                ColumnSpec("purchase", "productid", "productid", target_type="int"),
                ColumnSpec(
                    "purchase", "id", "n_purchases", target_type="long",
                    aggregator="count", aggregator_filter="gte(2)",
                ),
            ],
        )
    ]
    out = PipelineCompiler(spark, tables).compile(overrides=retail)
    assert [(r["productid"], r["n_purchases"]) for r in out.collect()] == [(2, 2)] or [
        (r["productid"], r["n_purchases"]) for r in out.collect()
    ] == [(1, 2)] or sorted(
        (r["productid"], r["n_purchases"]) for r in out.collect()
    ) == [(1, 2), (2, 2)]


def test_duplicate_targets_rejected(spark, retail):
    tables = [
        TableSpec(name="purchase", columns=[ColumnSpec("purchase", "id", "x")]),
        TableSpec(name="product", columns=[ColumnSpec("product", "id", "x")]),
    ]
    with pytest.raises(MetadataValidationError):
        PipelineCompiler(
            spark, tables, model=_retail_model(), main_table="purchase"
        ).compile(overrides=retail)


def test_load_metadata_csv(tmp_path):
    meta = tmp_path / "meta.csv"
    meta.write_text(
        textwrap.dedent(
            """\
            src_table,src_filetype,src_file_path,src_col,src_col_datatype,key_constraints,src_col_filter,src_col_aggregator,src_col_aggregator_filter,src_table_order,udf,udfarguments,target_table,target_col,target_col_datatype
            purchase,csv,/data/purchase.csv,id,int,pk,,,,0,,,invoice,purchase_id,int
            purchase,csv,/data/purchase.csv,purchasedate,string,,,count,gt(1),0,,,invoice,n,long
            product,csv,/data/product.csv,name,string,,,,,1,nvl,-,invoice,product_name,string
            """
        )
    )
    tables = load_metadata_csv(meta)
    assert [t.name for t in tables] == ["purchase", "product"]
    purchase = tables[0]
    assert purchase.pk_columns == ["id"]
    agg = purchase.columns[1]
    assert agg.aggregator == "count" and agg.aggregator_filter == "gt(1)"
    assert tables[1].columns[0].udf == "nvl"
    assert tables[1].columns[0].udf_args == ("-",)


def test_datamodel_from_csv(tmp_path):
    dm = tmp_path / "datamodel.csv"
    dm.write_text(
        "table,pk,fk_table,fk_col,fk_table_jointype\n"
        "purchase,id,product,productid,LEFT\n"
        "purchase,id,store,storeid,INNER\n"
        "product,id,,,\n"
        "store,id,,,\n"
    )
    model = DataModel.from_csv(dm)
    steps = plan_joins(model, "purchase")
    assert {(s.table, s.how) for s in steps} == {("product", "left"), ("store", "inner")}
    assert model.tables["purchase"].fks[0].pk_cols == ("id",)


def _landing_batch(tmp_path):
    """Two landing CSVs (orders + lineitems) and the specs that compile them
    into one row per order with its summed quantity."""
    (tmp_path / "orders.csv").write_text(
        "o_key,o_status,o_prio,ver\n1,O,HIGH,2\n2,F,,2\n3,O,LOW,2\n4,X,LOW,2\n"
    )
    (tmp_path / "lineitem.csv").write_text(
        "l_key,l_line,l_qty\n1,1,5\n1,2,3\n2,1,7\n3,1,0\n3,2,4\n4,1,1\n"
    )
    csv = {"header": "true"}
    orders = TableSpec(
        "orders", "csv", str(tmp_path / "orders.csv"), csv,
        columns=[
            ColumnSpec("orders", "o_key", "o_key", target_type="bigint", is_pk=True),
            ColumnSpec("orders", "o_status", "o_status", filter="in('F','O')"),
            ColumnSpec("orders", "o_prio", "o_prio"),
            ColumnSpec("orders", "ver", "ver", target_type="int"),
        ],
    )
    lineitem = TableSpec(
        "lineitem", "csv", str(tmp_path / "lineitem.csv"), csv,
        columns=[
            ColumnSpec("lineitem", "l_qty", "qty", target_type="bigint",
                       aggregator="sum", filter="gte(1)"),
        ],
    )
    model = DataModel()
    model.add_table("orders", ["o_key"])
    model.add_table("lineitem", ["l_key", "l_line"])
    model.add_fk("lineitem", "orders", ["l_key"], ["o_key"], "inner")
    return [lineitem, orders], model


def test_compiled_batch_outlives_its_sources(spark, tmp_path):
    from datapipelines_essentials_python_spark.dq.engine import execute_rules
    from datapipelines_essentials_python_spark.dq.rules import DQConfig, Rule
    from datapipelines_essentials_python_spark.io.writers import write_data
    from datapipelines_essentials_python_spark.operators.cdc import apply_cdc_pipeline

    landing = tmp_path / "landing"
    landing.mkdir()
    specs, model = _landing_batch(landing)
    staged = PipelineCompiler(spark, specs, model, main_table="lineitem").compile()
    # the same rows, built without the compiler: the reference answers
    reference = spark.createDataFrame(staged.collect(), staged.schema)
    for csv_file in landing.iterdir():
        csv_file.unlink()

    history = spark.createDataFrame(
        [(1, "O", "HIGH", 1, 8), (2, "F", "LOW", 1, 7), (9, "O", "LOW", 1, 1)],
        "o_key bigint, o_status string, o_prio string, ver int, qty bigint",
    )
    config = DQConfig(dq_id="t", rules=[
        Rule("nn", "prio present", "not null", columns=("o_prio",)),
        Rule("uk", "one row per order", "unique", columns=("o_key",)),
        Rule("q", "no empty order", "query", query="select * from temp where qty < 1"),
    ])

    def run(batch, out):
        _, results = execute_rules(spark, batch, config)
        delta, snap = apply_cdc_pipeline(
            history, batch, ["o_key"], ["ver"], payload_cols=["o_status", "o_prio", "qty"]
        )
        write_data(delta, "parquet", str(out / "delta"))
        write_data(snap, "parquet", str(out / "snapshot"))
        return (
            [r.violation_count for r in results],
            sorted(tuple(r) for r in spark.read.parquet(str(out / "delta")).collect()),
            sorted(tuple(r) for r in spark.read.parquet(str(out / "snapshot")).collect()),
        )

    got = run(staged, tmp_path / "staged")
    assert got == run(reference, tmp_path / "reference")
    dq, delta, snap = got
    assert dq == [1, 0, 0]
    assert [r[0] for r in delta] == [2, 3]  # 2 changed its priority, 3 is new
    assert [r[0] for r in snap] == [1, 2, 3, 9]
