"""Exotic Postgres type ingestion: interval / hstore / timetz / inet / WKB.

Mirrors the conversion surface of the reference's qvalue_convert.go +
shared/datatypes parsers over text-format inputs.
"""

import struct

from pyspark.sql import functions as F

from peerdb_spark.functions import exotic as X


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _col_batch(spark, col_fn, inputs):
    """Evaluate col_fn over many inputs in ONE Spark job (col_fn takes
    the input column's name, like the geometry decoders)."""
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(inputs)], "i int, h string"
    )
    rows = df.select("i", col_fn("h").alias("v")).collect()
    return [r["v"] for r in sorted(rows, key=lambda r: r["i"])]


def wkb_hex(x, y, srid=None, little=True):
    bo = b"\x01" if little else b"\x00"
    t = 1 | (0x20000000 if srid else 0)
    fmt = "<" if little else ">"
    b = bo + struct.pack(fmt + "I", t)
    if srid:
        b += struct.pack(fmt + "I", srid)
    b += struct.pack(fmt + "dd", x, y)
    return b.hex().upper()


def test_parse_interval(spark):
    v = _one(spark, X.parse_interval(F.lit("1 year 2 mons 3 days 04:05:06.789")))
    assert (v["years"], v["months"], v["days"]) == (1, 2, 3)
    assert (v["hours"], v["minutes"], float(v["seconds"])) == (4, 5, 6.789)
    v = _one(spark, X.parse_interval(F.lit("-1 years -2 mons +3 days -04:05:06")))
    assert (v["years"], v["months"], v["days"]) == (-1, -2, 3)
    assert (v["hours"], v["minutes"], float(v["seconds"])) == (-4, -5, -6.0)
    v = _one(spark, X.parse_interval(F.lit("00:00:42")))
    assert (v["years"], v["months"], v["days"], v["hours"], v["minutes"]) == (0, 0, 0, 0, 0)
    assert float(v["seconds"]) == 42.0


def test_interval_to_json(spark):
    j = _one(spark, X.interval_to_json(F.lit("2 mons 10 days 01:00:00")))
    assert '"months":2' in j and '"days":10' in j and '"hours":1' in j and '"valid":true' in j


def test_parse_hstore(spark):
    m = _one(spark, X.parse_hstore(F.lit('"a"=>"1", "b"=>NULL, "c\\"x"=>"y\\\\z"')))
    assert m == {"a": "1", "b": None, 'c"x': "y\\z"}
    pairs = _one(spark, X.hstore_pairs(F.lit('"b"=>NULL, "a"=>"1"')))
    assert pairs == ["a=>1", "b=>NULL"]
    assert _one(spark, X.parse_hstore(F.lit(""))) == {}


def test_parse_timetz(spark):
    us = lambda h, m, s: (h * 3600 + m * 60 + s) * 1_000_000
    assert _one(spark, X.parse_timetz_micros(F.lit("10:23:54+02"))) == us(8, 23, 54)
    assert _one(spark, X.parse_timetz_micros(F.lit("00:30:00-01:30"))) == us(2, 0, 0)
    # wraps past midnight
    assert _one(spark, X.parse_timetz_micros(F.lit("23:30:00-02"))) == us(1, 30, 0)
    assert _one(spark, X.parse_timetz_micros(F.lit("00:30:00+01"))) == us(23, 30, 0)
    assert (
        _one(spark, X.parse_timetz_micros(F.lit("10:23:54.123456+02:30")))
        == us(7, 53, 54) + 123456
    )
    assert _one(spark, X.parse_timetz_micros(F.lit("not-a-time"))) is None


def test_valid_inet(spark):
    ok = ["10.1.2.3", "10.1.2.3/24", "0.0.0.0/0", "255.255.255.255/32", "fe80::1/64", "::1"]
    bad = ["256.1.1.1", "1.2.3.4/33", "1.2.3", "abc", "1.2.3.4.5"]
    for s in ok:
        assert _one(spark, X.valid_inet(F.lit(s))) == s, s
    for s in bad:
        assert _one(spark, X.valid_inet(F.lit(s))) is None, s
    assert _one(spark, X.valid_macaddr(F.lit("AA:BB:cc:00:11:22"))) == "aa:bb:cc:00:11:22"
    assert _one(spark, X.valid_macaddr(F.lit("aa:bb:cc:00:11"))) is None


def test_wkb_point_roundtrip(spark):
    cases = [
        (1.5, -2.25, None, True),
        (1.5, -2.25, None, False),
        (-122.419416, 37.774929, 4326, True),
        (-122.419416, 37.774929, 4326, False),
        (0.0, 1e-310, None, True),  # subnormal y
        (12345.6789, -0.001, 3857, True),
    ]
    got = _col_batch(spark, X.wkb_point,
                     [wkb_hex(x, y, srid, little) for x, y, srid, little in cases])
    for (x, y, srid, little), v in zip(cases, got):
        assert v["x"] == x and v["y"] == y, (x, y, srid, little)
        assert v["srid"] == (srid or 0)


def test_wkb_point_invalid(spark):
    got = _col_batch(spark, X.wkb_point, [
        # linestring type code (2) → not a point
        (b"\x01" + struct.pack("<I", 2) + struct.pack("<dd", 1.0, 2.0)).hex(),
        # truncated / garbage
        "0101000000FF",
        "zznothex",
        # NaN coordinate → NULL x (GeoValidate-style drop)
        (b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", float("nan"), 2.0)).hex(),
    ])
    for v in got:
        assert v["x"] is None


def test_wkb_point_wkt(spark):
    h = wkb_hex(1.5, -2.5, 4326, True)
    assert _one(spark, X.wkb_point_wkt(f"'{h}'")) == "SRID=4326;POINT(1.5 -2.5)"
    h = wkb_hex(1.5, -2.5, None, True)
    assert _one(spark, X.wkb_point_wkt(f"'{h}'")) == "POINT(1.5 -2.5)"


def test_wkb_point_property(spark):
    """Property: decode(encode(x, y)) == (x, y) exactly for arbitrary finite
    doubles, both byte orders, with/without SRID — the IEEE bit decode is
    exact arithmetic, so equality is exact, not approximate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    finite = st.floats(allow_nan=False, allow_infinity=False)
    cases = []

    @settings(max_examples=60, deadline=None)
    @given(finite, finite, st.sampled_from([None, 1, 4326, 900913]),
           st.booleans())
    def collect(x, y, srid, little):
        cases.append((x, y, srid, little))

    collect()
    # one Spark job for all examples (per-example spark jobs would take minutes)
    df = spark.createDataFrame(
        [(i, wkb_hex(x, y, srid, little)) for i, (x, y, srid, little) in enumerate(cases)],
        "i long, h string",
    )
    out = {r["i"]: r["v"] for r in df.select("i", X.wkb_point("h").alias("v")).collect()}
    for i, (x, y, srid, little) in enumerate(cases):
        v = out[i]
        assert v["x"] == x and v["y"] == y, (x, y, srid, little)
        assert v["srid"] == (srid or 0)


def test_timetz_property(spark):
    """Property: parse(HH:MM:SS.ffffff±OH:OM) equals the arithmetic result
    mod 24h for arbitrary valid components."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cases = []

    @settings(max_examples=60, deadline=None)
    @given(st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
           st.integers(0, 999999), st.sampled_from(["+", "-"]),
           st.integers(0, 15), st.sampled_from([0, 30, 45]))
    def collect(h, m, s, us, osgn, oh, om):
        cases.append((h, m, s, us, osgn, oh, om))

    collect()
    rows = []
    for i, (h, m, s, us, osgn, oh, om) in enumerate(cases):
        txt = f"{h:02d}:{m:02d}:{s:02d}.{us:06d}{osgn}{oh:02d}:{om:02d}"
        off = (oh * 3600 + om * 60) * (1 if osgn == "+" else -1)
        expect = ((h * 3600 + m * 60 + s - off) * 1_000_000 + us) % 86_400_000_000
        rows.append((i, txt, expect))
    df = spark.createDataFrame(rows, "i long, t string, expect long")
    bad = df.where(X.parse_timetz_micros(F.col("t")) != F.col("expect")).collect()
    assert bad == [], bad[:3]


def test_parse_money_cents(spark):
    from peerdb_spark.functions import exotic as X

    df = spark.createDataFrame(
        [("$1,234.56",), ("-$12.30",), ("$0.07",), ("$9,999,999.99",)], "m string"
    )
    got = [r[0] for r in df.select(X.parse_money_cents(F.col("m"))).collect()]
    assert got == [123456, -1230, 7, 999999999]


def test_valid_bit(spark):
    from peerdb_spark.functions import exotic as X

    df = spark.createDataFrame([("1011",), ("10021",), ("",), ("111111",)], "b string")
    got = [r[0] for r in df.select(X.valid_bit(F.col("b"), max_len=5)).collect()]
    assert got == ["1011", None, None, None]


def test_money_roundtrip_property(spark):
    """Format→parse round-trip over a wide deterministic cent range,
    including negatives, zero, and values needing multiple grouping commas."""
    from peerdb_spark.functions import exotic as X

    cents = [0, 1, -1, 99, -99, 100, 12345, -999999, 10**9 + 7, -(10**12) - 37,
             5 * 10**12, 123456789012345]
    rows = []
    for c in cents:
        sign = "-" if c < 0 else ""
        a = abs(c)
        whole, frac = divmod(a, 100)
        rows.append((f"{sign}${whole:,}.{frac:02d}", c))
    df = spark.createDataFrame(rows, "m string, expect long")
    got = df.select(X.parse_money_cents(F.col("m")).alias("g"), "expect").collect()
    for r in got:
        assert r["g"] == r["expect"], (r["g"], r["expect"])


def test_parse_hstore_hypothesis_roundtrip(spark):
    """Property: rendering a random dict in hstore_out text form (quoted
    keys/values, backslash escapes, NULLs) and parsing it back yields the
    dict — over keys/values containing quotes, backslashes, and commas."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def render(d):
        def esc(s):
            return s.replace("\\", "\\\\").replace('"', '\\"')

        return ", ".join(
            f'"{esc(k)}"=>' + ("NULL" if v is None else f'"{esc(v)}"')
            for k, v in d.items()
        )

    txt = st.text(alphabet='ab", \\=>', min_size=0, max_size=6)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(d=st.dictionaries(txt, st.one_of(st.none(), txt), min_size=0, max_size=5))
    def check(d):
        got = _one(spark, X.parse_hstore(F.lit(render(d))))
        assert (got or {}) == d, (render(d), got, d)

    check()


def test_parse_interval_hypothesis_pg_rendering(spark):
    """Property: parse_interval decodes every interval rendered the way
    `interval_out` (postgres style) renders it — random signed components,
    optional fractional seconds, any subset of units present."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def render(y, mo, d, neg_time, hh, mm, ss, frac, with_time):
        parts = []
        if y:
            parts.append(f"{y} year" + ("s" if abs(y) != 1 else ""))
        if mo:
            parts.append(f"{mo} mon" + ("s" if abs(mo) != 1 else ""))
        if d:
            parts.append(f"{d} day" + ("s" if abs(d) != 1 else ""))
        if with_time:
            t = f"{'-' if neg_time else ''}{hh:02d}:{mm:02d}:{ss:02d}"
            if frac:
                t += f".{frac:06d}"
            parts.append(t)
        return " ".join(parts) if parts else "00:00:00"

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        y=st.integers(min_value=-20, max_value=20),
        mo=st.integers(min_value=-11, max_value=11),
        d=st.integers(min_value=-40, max_value=40),
        neg_time=st.booleans(),
        hh=st.integers(min_value=0, max_value=23),
        mm=st.integers(min_value=0, max_value=59),
        ss=st.integers(min_value=0, max_value=59),
        frac=st.integers(min_value=0, max_value=999999),
        with_time=st.booleans(),
    )
    def check(y, mo, d, neg_time, hh, mm, ss, frac, with_time):
        from decimal import Decimal

        txt = render(y, mo, d, neg_time, hh, mm, ss, frac, with_time)
        got = _one(spark, X.parse_interval(F.lit(txt)))
        sign = -1 if (neg_time and with_time) else 1
        # exact decimal expectation: a float SUM (ss + frac/1e6) can land
        # one ULP away from the directly-parsed decimal and flake
        want_ss = (
            Decimal(sign) * (Decimal(ss) + Decimal(frac) / Decimal(1_000_000))
            if with_time else Decimal(0)
        )
        assert (got["years"], got["months"], got["days"]) == (y, mo, d) or (
            # absent units parse as 0
            (got["years"], got["months"], got["days"])
            == (y or 0, mo or 0, d or 0)
        ), (txt, got)
        if with_time:
            assert (got["hours"], got["minutes"]) == (sign * hh, sign * mm), (txt, got)
        assert Decimal(got["seconds"]) == want_ss, (txt, got)

    check()


def test_valid_inet_ipv4_mapped(spark):
    """inet_out emits IPv4-mapped IPv6 with a dotted tail — accepted; a
    mapped tail with out-of-range octets is rejected."""
    ok = ["::ffff:192.168.0.1", "::ffff:1.2.3.4/128", "64:ff9b::0.0.0.0"]
    bad = ["::ffff:999.1.1.1", "::ffff:1.2.3", "1.2.3.4:5"]
    for s in ok:
        assert _one(spark, X.valid_inet(F.lit(s))) == s, s
    for s in bad:
        assert _one(spark, X.valid_inet(F.lit(s))) is None, s


# -- variable-length geometries ----------------------------------------------


def wkb_ls_hex(pts, srid=None, little=True):
    bo = b"\x01" if little else b"\x00"
    fmt = "<" if little else ">"
    t = 2 | (0x20000000 if srid else 0)
    b = bo + struct.pack(fmt + "I", t)
    if srid:
        b += struct.pack(fmt + "I", srid)
    b += struct.pack(fmt + "I", len(pts))
    for x, y in pts:
        b += struct.pack(fmt + "dd", x, y)
    return b.hex().upper()


def wkb_pg_hex(rings, srid=None, little=True):
    bo = b"\x01" if little else b"\x00"
    fmt = "<" if little else ">"
    t = 3 | (0x20000000 if srid else 0)
    b = bo + struct.pack(fmt + "I", t)
    if srid:
        b += struct.pack(fmt + "I", srid)
    b += struct.pack(fmt + "I", len(rings))
    for ring in rings:
        b += struct.pack(fmt + "I", len(ring))
        for x, y in ring:
            b += struct.pack(fmt + "dd", x, y)
    return b.hex().upper()


def test_wkb_linestring_roundtrip(spark):
    pts = [(1.5, -2.25), (0.0, 3.75), (-10.125, 1e-3)]
    cases = [(srid, little) for srid in (None, 4326) for little in (True, False)]
    got = _col_batch(
        spark, X.wkb_linestring,
        [wkb_ls_hex(pts, srid, little) for srid, little in cases]
        + [wkb_ls_hex([])],  # empty linestring is valid WKB
    )
    for (srid, little), v in zip(cases, got):
        assert [(p["x"], p["y"]) for p in v["points"]] == pts, (srid, little)
        assert v["srid"] == (srid or 0)
    assert got[-1]["points"] == [] and got[-1]["srid"] == 0


def test_wkb_linestring_invalid(spark):
    h = wkb_ls_hex([(1.0, 2.0), (3.0, 4.0)])
    got = _col_batch(spark, X.wkb_linestring, [
        wkb_hex(1.0, 2.0),               # a POINT payload is not a linestring
        h[:-2],                          # truncated: drop last 2 hex chars
        h + "00",                        # overlong: trailing junk
        wkb_ls_hex([(1.0, float("nan"))]),  # NaN coord → whole geometry rejected
    ])
    for v in got:
        assert v["points"] is None


def test_wkb_polygon_roundtrip(spark):
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (2.0, 1.0), (1.5, 2.0), (1.0, 1.0)]
    cases = [(srid, little) for srid in (None, 3857) for little in (True, False)]
    got = _col_batch(
        spark, X.wkb_polygon,
        [wkb_pg_hex([outer, hole], srid, little) for srid, little in cases],
    )
    for (srid, little), v in zip(cases, got):
        rings = [[(p["x"], p["y"]) for p in r] for r in v["rings"]]
        assert rings == [outer, hole], (srid, little)
        assert v["srid"] == (srid or 0)


def test_wkb_polygon_invalid(spark):
    h = wkb_pg_hex([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]])
    got = _col_batch(spark, X.wkb_polygon, [
        h[:-2],
        h + "FF",
        # a ring count pointing past the buffer must not decode garbage
        h[:18] + "05000000" + h[26:],    # claim 5 points, supply 4
        wkb_ls_hex([(1.0, 2.0)]),        # linestring payload is not a polygon
    ])
    for v in got:
        assert v["rings"] is None


def test_wkb_geometry_wkt_all_kinds(spark):
    ls = wkb_ls_hex([(1.5, 2.5), (3.0, -4.0)], srid=4326)
    pg = wkb_pg_hex([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]])
    got = _col_batch(spark, X.wkb_geometry_wkt, [wkb_hex(1.5, -2.5, 4326), ls, pg, pg[:-2]])
    assert got[0] == "SRID=4326;POINT(1.5 -2.5)"
    assert got[1] == "SRID=4326;LINESTRING(1.5 2.5, 3.0 -4.0)"
    assert got[2] == "POLYGON((0.0 0.0, 1.0 0.0, 0.0 1.0, 0.0 0.0))"
    # invalid → NULL, never partial text
    assert got[3] is None


def test_wkb_linestring_property(spark):
    """decode(encode(points)) == points exactly for arbitrary finite doubles,
    both byte orders, batched into one Spark job."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    finite = st.floats(allow_nan=False, allow_infinity=False)
    cases = []

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.tuples(finite, finite), min_size=0, max_size=5),
           st.sampled_from([None, 4326]), st.booleans())
    def collect(pts, srid, little):
        cases.append((pts, srid, little))

    collect()
    df = spark.createDataFrame(
        [(i, wkb_ls_hex(p, s, l)) for i, (p, s, l) in enumerate(cases)],
        "i long, h string",
    )
    rows = {r["i"]: r["v"] for r in
            df.select("i", X.wkb_linestring("h").alias("v")).collect()}
    for i, (pts, srid, _l) in enumerate(cases):
        v = rows[i]
        assert [(p["x"], p["y"]) for p in v["points"]] == pts, cases[i]
        assert v["srid"] == (srid or 0)


def wkb_multi_hex(kind, items, srid=None, little=True):
    """kind 4/5/6; items = list of (pts | rings) built by the single-geom
    builders; each nested blob keeps its OWN byte order (mixed below)."""
    bo = b"\x01" if little else b"\x00"
    fmt = "<" if little else ">"
    t = kind | (0x20000000 if srid else 0)
    b = bo + struct.pack(fmt + "I", t)
    if srid:
        b += struct.pack(fmt + "I", srid)
    b += struct.pack(fmt + "I", len(items))
    for i, item in enumerate(items):
        sub_little = (i % 2 == 0)  # alternate nested byte order
        if kind == 4:
            b += bytes.fromhex(wkb_hex(*item, None, sub_little))
        elif kind == 5:
            b += bytes.fromhex(wkb_ls_hex(item, None, sub_little))
        else:
            b += bytes.fromhex(wkb_pg_hex(item, None, sub_little))
    return b.hex().upper()


def test_wkb_multipoint_roundtrip(spark):
    pts = [(1.5, -2.25), (0.0, 3.75), (100.0, -0.5)]
    h = wkb_multi_hex(4, pts)
    got = _col_batch(spark, X.wkb_multipoint, [
        wkb_multi_hex(4, pts, None),
        wkb_multi_hex(4, pts, 4326),
        # wrong container kind and truncation reject
        wkb_ls_hex(pts),
        h[:-2],
        h + "00",
        # so does a member with a NaN/Inf coordinate, y as well as x
        wkb_multi_hex(4, [(1.0, 2.0), (3.0, float("nan"))]),
        wkb_multi_hex(4, [(1.0, float("inf"))], 4326),
        wkb_multi_hex(4, [(float("nan"), 2.0), (3.0, 4.0)]),
    ])
    for srid, v in zip((None, 4326), got[:2]):
        assert [(p["x"], p["y"]) for p in v["points"]] == pts
        assert v["srid"] == (srid or 0)
    for v in got[2:]:
        assert v["points"] is None


def test_wkb_multilinestring_roundtrip(spark):
    lines = [[(0.0, 1.0), (2.0, 3.0)], [(5.5, -6.5), (7.0, 8.0), (9.0, 0.25)]]
    # a NaN inside ANY nested line rejects the whole geometry
    bad = [[(0.0, 1.0)], [(float("nan"), 2.0)]]
    got = _col_batch(spark, X.wkb_multilinestring,
                     [wkb_multi_hex(5, lines, 3857), wkb_multi_hex(5, bad)])
    assert [[(p["x"], p["y"]) for p in ln] for ln in got[0]["lines"]] == lines
    assert got[0]["srid"] == 3857
    assert got[1]["lines"] is None


def test_wkb_multipolygon_roundtrip(spark):
    polys = [
        [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)],
         [(1.0, 1.0), (2.0, 1.0), (1.5, 2.0), (1.0, 1.0)]],
        [[(10.0, 10.0), (12.0, 10.0), (11.0, 12.0), (10.0, 10.0)]],
    ]
    h = wkb_multi_hex(6, polys)
    got = _col_batch(spark, X.wkb_multipolygon,
                     [wkb_multi_hex(6, polys, 4326), h[:-2]])
    v = got[0]
    out = [[[(p["x"], p["y"]) for p in r] for r in rings] for rings in v["polys"]]
    assert out == polys and v["srid"] == 4326
    assert got[1]["polys"] is None


def test_wkb_geometry_wkt_multi_kinds(spark):
    gc = "01" + struct.pack("<I", 7).hex() + struct.pack("<I", 0).hex()
    unk = "01" + struct.pack("<I", 8).hex() + struct.pack("<I", 0).hex()
    got = _col_batch(spark, X.wkb_geometry_wkt, [
        wkb_multi_hex(4, [(1.5, 2.5), (3.0, -4.0)], srid=4326),
        wkb_multi_hex(5, [[(0.0, 1.0), (2.0, 3.0)]]),
        wkb_multi_hex(6, [[[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]]]),
        gc.upper(),
        unk.upper(),
        # a NaN y rejects the whole multipoint, as it rejects a point
        wkb_multi_hex(4, [(1.5, 2.5), (3.0, float("nan"))]),
    ])
    assert got[0] == "SRID=4326;MULTIPOINT(1.5 2.5, 3.0 -4.0)"
    assert got[1] == "MULTILINESTRING((0.0 1.0, 2.0 3.0))"
    assert got[2] == "MULTIPOLYGON(((0.0 0.0, 1.0 0.0, 0.0 1.0, 0.0 0.0)))"
    # geometrycollection dispatches too (full coverage in
    # test_wkb_geometrycollection_wkt); unknown kind 8 → NULL
    assert got[3] == "GEOMETRYCOLLECTION EMPTY"
    assert got[4] is None
    assert got[5] is None


def test_wkb_geometry_wkt_empty_kinds(spark):
    """An empty geometry renders as '<TAG> EMPTY', never as 'TAG()'; an
    empty member of a MULTI* renders as 'EMPTY' and one of a collection
    keeps its tag."""
    tri = [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]
    gc_empty_ls = ("01" + struct.pack("<II", 7, 1).hex()
                   + wkb_ls_hex([])).upper()
    got = _col_batch(spark, X.wkb_geometry_wkt, [
        wkb_ls_hex([]),
        "010300000000000000",
        wkb_multi_hex(4, []),
        wkb_multi_hex(5, []),
        wkb_multi_hex(6, []),
        wkb_ls_hex([], srid=4326),
        wkb_multi_hex(5, [[], [(0.0, 1.0), (2.0, 3.0)]]),
        wkb_multi_hex(6, [[[*tri]], []]),
        gc_empty_ls,
    ])
    assert got[:5] == ["LINESTRING EMPTY", "POLYGON EMPTY", "MULTIPOINT EMPTY",
                       "MULTILINESTRING EMPTY", "MULTIPOLYGON EMPTY"]
    assert got[5] == "SRID=4326;LINESTRING EMPTY"
    assert got[6] == "MULTILINESTRING(EMPTY, (0.0 1.0, 2.0 3.0))"
    assert got[7] == ("MULTIPOLYGON(((0.0 0.0, 1.0 0.0, 0.0 1.0, 0.0 0.0)), "
                      "EMPTY)")
    assert got[8] == "GEOMETRYCOLLECTION(LINESTRING EMPTY)"


def test_wkb_multilinestring_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    finite = st.floats(allow_nan=False, allow_infinity=False)
    line = st.lists(st.tuples(finite, finite), min_size=0, max_size=3)
    cases = []

    @settings(max_examples=25, deadline=None)
    @given(st.lists(line, min_size=0, max_size=3), st.sampled_from([None, 4326]))
    def collect(lines, srid):
        cases.append((lines, srid))

    collect()
    df = spark.createDataFrame(
        [(i, wkb_multi_hex(5, ls, s)) for i, (ls, s) in enumerate(cases)],
        "i long, h string",
    )
    rows = {r["i"]: r["v"] for r in
            df.select("i", X.wkb_multilinestring("h").alias("v")).collect()}
    for i, (lines, srid) in enumerate(cases):
        v = rows[i]
        assert [[(p["x"], p["y"]) for p in ln] for ln in v["lines"]] == lines, cases[i]
        assert v["srid"] == (srid or 0)


def test_wkb_geometrycollection_wkt(spark):
    # GC of simple members (point + linestring + polygon), nested blobs only
    parts = (
        bytes.fromhex(wkb_hex(1.5, -2.5, None, True))
        + bytes.fromhex(wkb_ls_hex([(0.0, 1.0), (2.0, 3.0)], None, False))
        + bytes.fromhex(wkb_pg_hex([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]]))
    )
    def gc_hex(srid, n, body):
        t = 7 | (0x20000000 if srid else 0)
        b = b"\x01" + struct.pack("<I", t)
        if srid:
            b += struct.pack("<I", srid)
        return (b + struct.pack("<I", n) + body).hex().upper()

    nested_multi = bytes.fromhex(wkb_multi_hex(4, [(1.0, 2.0)]))
    got = _col_batch(spark, X.wkb_geometry_wkt, [
        gc_hex(None, 3, parts),
        gc_hex(4326, 3, parts),
        gc_hex(None, 0, b""),      # empty collection
        gc_hex(None, 3, parts[:-2]),     # truncated → NULL
        gc_hex(None, 1, nested_multi),   # GC nesting MULTI* → NULL (scope)
    ])
    for prefix, g in (("", got[0]), ("SRID=4326;", got[1])):
        assert g == (
            prefix + "GEOMETRYCOLLECTION(POINT(1.5 -2.5), "
            "LINESTRING(0.0 1.0, 2.0 3.0), "
            "POLYGON((0.0 0.0, 1.0 0.0, 0.0 1.0, 0.0 0.0)))"
        ), g
    assert got[2] == "GEOMETRYCOLLECTION EMPTY"
    assert got[3] is None
    assert got[4] is None


def test_sql_text_mirrors_match_column_decoders(spark):
    """The one geometry decoder against ground truth, four kinds over every
    input in one job: the gate fixtures decode to the coordinates they were
    packed from, and each decodes as its own kind only; every malformed
    shape — including the ANSI-overflow counts above INT_MAX that the
    round-8 try_cast fix turned from crashes into NULL geometries — is
    NULL as all four kinds. Zero-ring polygons and zero-part multipolygons
    are valid empties, and an EWKB srid above INT_MAX keeps its
    coordinates with a NULL srid: each is stated with its own truth."""
    from peerdb_spark.queries.qrep import (
        _WKB_LITS, _WKB_MPG_FIXT, _ls_canon_truth, _ls_hexes, _mpg_canon_truth,
        _mpg_hexes, _pg_canon_truth, _pg_hexes,
    )

    points = [(1.5, -2.25, 0), (-122.419416, 37.774929, 4326), (0.0, 0.0, 0),
              (12345.6789, -0.001, 3857), (1e-310, 2.0, 0)]
    assert [wkb_hex(x, y, srid or None) for x, y, srid in points] == _WKB_LITS[:5]
    malformed = [
        "", "00", "zz", "01", "0101000000", "0" * 100, _WKB_LITS[5],
        "01020000000200000000000000000000f03f000000000000f03f",  # 2 points, 1 given
        "0102000000ffffffff",          # linestring, count > INT_MAX
        "0103000000ffffffff",          # polygon, ring count > INT_MAX
        None,
    ]
    # (input, {kind: truth}); a kind not named must decode to NULL
    cases = [(h, {"pt": p}) for h, p in zip(_WKB_LITS, points)]
    cases += [(h, {"ls": t}) for h, t in zip(_ls_hexes(), _ls_canon_truth())]
    cases += [(h, {"pg": t}) for h, t in zip(_pg_hexes(), _pg_canon_truth())]
    cases += [(h, {"mpg": t}) for h, t in zip(_mpg_hexes(), _mpg_canon_truth())]
    # the malformed multipolygon slot is a one-ring, one-point POLYGON
    assert _WKB_MPG_FIXT[-1][0] is None
    cases[-1] = (cases[-1][0], {"pg": "0:1024 2048"})
    cases += [
        ("010300000000000000", {"pg": "0:"}),   # POLYGON EMPTY
        ("010600000000000000", {"mpg": "0:"}),  # MULTIPOLYGON EMPTY
        # EWKB srid 4294967295 does not fit the int srid: coordinates only
        ("0101000020ffffffff" + "00" * 16, {"pt": (0.0, 0.0, None)}),
    ]
    cases += [(h, {}) for h in malformed]

    def pts(ps):
        return ",".join(f"{int(p['x'] * 1024)} {int(p['y'] * 1024)}" for p in ps)

    def canon(kind, v):
        if kind == "pt":
            return None if v["x"] is None else (v["x"], v["y"], v["srid"])
        field, render = {
            "ls": ("points", pts),
            "pg": ("rings", lambda g: "|".join(map(pts, g))),
            "mpg": ("polys", lambda g: "/".join("|".join(map(pts, rs)) for rs in g)),
        }[kind]
        return None if v[field] is None else f"{v['srid']}:{render(v[field])}"

    df = spark.createDataFrame(
        [(i, h) for i, (h, _t) in enumerate(cases)], "i int, wkb string"
    )
    rows = df.select(
        "i",
        X.wkb_point("wkb").alias("pt"),
        X.wkb_linestring("wkb").alias("ls"),
        X.wkb_polygon("wkb").alias("pg"),
        X.wkb_multipolygon("wkb").alias("mpg"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        h, truth = cases[r["i"]]
        for kind in ("pt", "ls", "pg", "mpg"):
            assert canon(kind, r[kind]) == truth.get(kind), (h, kind, r[kind])


def test_hostile_counts_reject_not_crash(spark):
    """Adversarial headers declaring counts near/above INT_MAX (or ring
    counts that cannot fit the buffer) must yield NULL geometry — not an
    ANSI cast error or a 2^31-element sequence allocation."""
    hostile = [
        "0102000000ffffffff",               # ls count 4294967295
        "0102000000ffffff7f" + "00" * 8,    # ls count INT_MAX, tiny buffer
        "0103000000ffffff7f" + "00" * 8,    # pg ring count INT_MAX
        "0106000000ffffff7f" + "00" * 8,    # mpg part count INT_MAX
        "0101000020ffffffff" + "00" * 32,   # srid 4294967295
    ]
    df = spark.createDataFrame([(v,) for v in hostile], "wkb string")
    out = df.select(
        X.wkb_point("wkb").alias("pt"),
        X.wkb_linestring("wkb")["points"].alias("ls"),
        X.wkb_polygon("wkb")["rings"].alias("pg"),
        X.wkb_multipolygon("wkb")["polys"].alias("mpg"),
    ).collect()
    for r in out:
        assert r["ls"] is None and r["pg"] is None and r["mpg"] is None
