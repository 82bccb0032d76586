import pytest
from pyspark.sql import Row

from wrangler_spark import execute


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, "alice", "CA", 10.5), (2, "bob", "NY", 20.0)],
        "id long, name string, state string, amount double",
    )


def test_drop(spark, df):
    ok, _ = execute(spark, ["drop :state"], df)
    assert ok.columns == ["id", "name", "amount"]


def test_drop_multiple(spark, df):
    ok, _ = execute(spark, ["drop :state,:amount"], df)
    assert ok.columns == ["id", "name"]


def test_keep(spark, df):
    ok, _ = execute(spark, ["keep :name,:id"], df)
    assert ok.columns == ["name", "id"]


def test_rename(spark, df):
    ok, _ = execute(spark, ["rename :name :full_name"], df)
    assert "full_name" in ok.columns and "name" not in ok.columns


def test_rename_conflict_errors(spark, df):
    from wrangler_spark.errors import SchemaError

    with pytest.raises(SchemaError):
        execute(spark, ["rename :name :state"], df)


def test_copy(spark, df):
    ok, _ = execute(spark, ["copy :name :name2"], df)
    rows = ok.select("name", "name2").collect()
    assert all(r["name"] == r["name2"] for r in rows)


def test_merge(spark, df):
    ok, _ = execute(spark, ["merge :name :state :combined '-'"], df)
    assert ok.orderBy("id").first()["combined"] == "alice-CA"


def test_swap(spark, df):
    ok, _ = execute(spark, ["swap :name :state"], df)
    r = ok.orderBy("id").first()
    assert r["name"] == "CA" and r["state"] == "alice"


def test_set_headers(spark, df):
    ok, _ = execute(spark, ["set-headers :a,:b,:c,:d"], df)
    assert ok.columns == ["a", "b", "c", "d"]


def test_change_column_case(spark, df):
    ok, _ = execute(spark, ["change-column-case upper"], df)
    assert ok.columns == ["ID", "NAME", "STATE", "AMOUNT"]


def test_cleanse_column_names(spark):
    d = spark.createDataFrame([(1, 2)], "`Col One` long, `B-2` long")
    ok, _ = execute(spark, ["cleanse-column-names"], d)
    assert ok.columns == ["col_one", "b_2"]


def test_columns_replace(spark, df):
    ok, _ = execute(spark, ["columns-replace 's/^na/NA/'"], df)
    assert "NAme" in ok.columns


def test_set_type(spark, df):
    ok, _ = execute(spark, ["set-type :id string", "set-type :amount int"], df)
    assert dict(ok.dtypes)["id"] == "string"
    assert dict(ok.dtypes)["amount"] == "int"
    assert ok.orderBy("id").first()["amount"] == 10


def test_set_type_decimal_scale(spark, df):
    ok, _ = execute(spark, ["set-type :amount decimal 1"], df)
    assert dict(ok.dtypes)["amount"].startswith("decimal")
    vals = sorted(float(r["amount"]) for r in ok.collect())
    assert vals == [10.5, 20.0]


def test_split_to_columns(spark, one_col):
    df = one_col("a:b:c", "x:y")
    ok, _ = execute(spark, ["split-to-columns :body ':'"], df)
    r = ok.filter("body = 'a:b:c'").first()
    assert (r["body_1"], r["body_2"], r["body_3"]) == ("a", "b", "c")
    r2 = ok.filter("body = 'x:y'").first()
    assert r2["body_3"] is None


def test_create_and_flatten_record(spark, df):
    ok, _ = execute(spark, ["create-record :rec :name,:state", "drop :name,:state"], df)
    assert isinstance(ok.first()["rec"], Row)
    back, _ = execute(spark, ["flatten-record :rec"], ok)
    assert "rec_name" in back.columns and "rec_state" in back.columns


def test_set_type_decimal_to_bytes_minimal_length(spark):
    """Bytes.toBytes(BigDecimal): 4-byte scale + BigInteger.toByteArray,
    the minimal two's complement — −128 is one byte (0x80), not 0xFF80."""
    from decimal import Decimal

    vals = [0, 127, 128, -128, -129]
    df = spark.createDataFrame([(i, Decimal(v)) for i, v in enumerate(vals)],
                               "i long, v decimal(10,0)")
    ok, _ = execute(spark, ["set-type v bytes"], df)
    got = [bytes(r["v"]) for r in ok.orderBy("i").collect()]
    scale = bytes(4)
    assert got == [scale + b"\x00", scale + b"\x7f", scale + b"\x00\x80",
                   scale + b"\x80", scale + b"\xff\x7f"]


def test_set_type_decimal_rounding_modes(spark):
    """Exact java.math.RoundingMode semantics, incl. the negative-value
    distinctions (FLOOR vs DOWN, CEILING vs UP) and HALF_DOWN ties
    (reference utils/ColumnConverter.java:305-334)."""
    from decimal import Decimal

    from wrangler_spark import execute

    df = spark.createDataFrame(
        [(2.345,), (-2.345,), (2.675,), (-2.675,)], "v double"
    )

    def run(mode):
        ok, _ = execute(spark, [f"set-type :v decimal 2 {mode}"], df)
        return [r["v"] for r in ok.orderBy("v").collect()]

    assert run("FLOOR") == [Decimal("-2.68"), Decimal("-2.35"), Decimal("2.34"), Decimal("2.67")]
    assert run("CEILING") == [Decimal("-2.67"), Decimal("-2.34"), Decimal("2.35"), Decimal("2.68")]
    assert run("DOWN") == [Decimal("-2.67"), Decimal("-2.34"), Decimal("2.34"), Decimal("2.67")]
    assert run("UP") == [Decimal("-2.68"), Decimal("-2.35"), Decimal("2.35"), Decimal("2.68")]
    # ties: 2.345 at scale 2
    half_up = run("HALF_UP")
    half_down = run("HALF_DOWN")
    assert Decimal("2.35") in half_up and Decimal("-2.35") in half_up
    assert Decimal("2.34") in half_down and Decimal("-2.34") in half_down


def test_set_type_decimal_unnecessary(spark):
    from wrangler_spark import execute

    clean = spark.createDataFrame([(2.25,)], "v double")
    ok, _ = execute(spark, ["set-type :v decimal 2 UNNECESSARY"], clean)
    from decimal import Decimal
    assert ok.first()["v"] == Decimal("2.25")

    dirty = spark.createDataFrame([(2.345,)], "v double")
    ok2, _ = execute(spark, ["set-type :v decimal 2 UNNECESSARY"], dirty)
    import pytest as _pytest
    with _pytest.raises(Exception, match="rounding necessary"):
        ok2.collect()


def test_set_type_decimal_rounding_big_digits(spark):
    """Rounding stays in DECIMAL space: values past double's 2^53
    mantissa (>16 significant digits) must round exactly — the old
    signum-multiply / bare-0.5-literal forms promoted the operand to
    double and could mis-round these."""
    from decimal import Decimal

    from wrangler_spark import execute

    rows = [
        (Decimal("12345678901234567.895"),),
        (Decimal("-12345678901234567.895"),),
        (Decimal("98765432109876543.211"),),
        (Decimal("-98765432109876543.219"),),
    ]
    df = spark.createDataFrame(rows, "v decimal(21,3)")

    def run(mode):
        ok, _ = execute(spark, [f"set-type :v decimal 2 {mode}"], df)
        return sorted(r["v"] for r in ok.collect())

    assert run("HALF_DOWN") == sorted([
        Decimal("12345678901234567.89"), Decimal("-12345678901234567.89"),
        Decimal("98765432109876543.21"), Decimal("-98765432109876543.22"),
    ])
    assert run("DOWN") == sorted([
        Decimal("12345678901234567.89"), Decimal("-12345678901234567.89"),
        Decimal("98765432109876543.21"), Decimal("-98765432109876543.21"),
    ])
    assert run("UP") == sorted([
        Decimal("12345678901234567.90"), Decimal("-12345678901234567.90"),
        Decimal("98765432109876543.22"), Decimal("-98765432109876543.22"),
    ])


def test_set_type_decimal_rounding_parity_sweep(spark):
    """Seeded random sweep: every rounding mode must agree with Python's
    decimal.quantize (whose ROUND_* modes match java.math.RoundingMode —
    the reference's utils/ColumnConverter.java semantics) on 200 values
    per mode, including forced .5 ties and negative values."""
    import decimal as pydec
    import random

    from wrangler_spark import execute

    mode_map = {
        "HALF_UP": pydec.ROUND_HALF_UP,
        "HALF_EVEN": pydec.ROUND_HALF_EVEN,
        "HALF_DOWN": pydec.ROUND_HALF_DOWN,
        "FLOOR": pydec.ROUND_FLOOR,
        "CEILING": pydec.ROUND_CEILING,
        "DOWN": pydec.ROUND_DOWN,
        "UP": pydec.ROUND_UP,
    }
    rnd = random.Random(20260817)
    vals = []
    for i in range(150):
        digits = rnd.randint(1, 12)
        frac = rnd.randint(0, 4)
        n = rnd.randint(0, 10**digits - 1)
        v = pydec.Decimal(n) / (10**frac)
        vals.append(-v if rnd.random() < 0.5 else v)
    # forced ties at scale 2 (the discriminating cases)
    for i in range(50):
        n = rnd.randint(0, 10**6)
        v = pydec.Decimal(n) / 100 + pydec.Decimal("0.005")
        vals.append(-v if i % 2 else v)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v decimal(20,4)")
    for mode, pymode in mode_map.items():
        ok, _ = execute(spark, [f"set-type :v decimal 2 {mode}"], df)
        got = {r["i"]: r["v"] for r in ok.collect()}
        q = pydec.Decimal("0.01")
        for i, v in enumerate(vals):
            want = v.quantize(q, rounding=pymode)
            assert got[i] == want, f"{mode}: {v} → {got[i]}, want {want}"
