import pandas as pd
from pyspark.sql import functions as F

from osm_merge_spark.functions import tags as TG
from osm_merge_spark.functions import text as TX


def test_drop_junk_tags(spark):
    df = spark.createDataFrame(
        [({"highway": "track", "tiger:cfcc": "A41", "_FID": "9", "title": "x", "name": "Elk Rd"},)],
        "tags map<string,string>",
    )
    out = df.select(TG.drop_junk_tags("tags").alias("t")).collect()[0]["t"]
    assert out == {"highway": "track", "name": "Elk Rd"}


def test_merge_tags_precedence(spark):
    df = spark.createDataFrame(
        [({"name": "Elk Road", "surface": "dirt"}, {"name": "Elk Rd", "highway": "track"})],
        "ext map<string,string>, osm map<string,string>",
    )
    out = df.select(TG.merge_tags(F.col("ext"), F.col("osm")).alias("m")).collect()[0]["m"]
    # keep_old: external name wins, OSM name preserved as old_name
    assert out["name"] == "Elk Road"
    assert out["old_name"] == "Elk Rd"
    # non-keep_old conflict: OSM wins (ext | osm dict-union semantics)
    assert out["highway"] == "track"
    assert out["surface"] == "dirt"


def test_ref_normalization(spark):
    df = spark.createDataFrame(
        [("FS 123.1A",), ("fr123.1a",), ("123.1A",), ("CR 44",), ("",), (None,)], "ref string"
    )
    out = [r["n"] for r in df.select(TG.normalize_ref("ref").alias("n")).collect()]
    assert out[:4] == ["FR 123.1A", "FR 123.1A", "FR 123.1A", "FR 44"]
    assert out[4] is None and out[5] is None


def test_ref_number_comparison(spark):
    df = spark.createDataFrame([("FS 521.1A", "FR 521.1A"), ("FR 12", "FR 13")], "a string, b string")
    out = df.select((TG.ref_number("a") == TG.ref_number("b")).alias("eq")).collect()
    assert [r["eq"] for r in out] == [True, False]


def test_normalize_name(spark):
    df = spark.createDataFrame([("cedar   lk rd",), ("BEAR CR RD",)], "n string")
    out = [r["x"] for r in df.select(TG.normalize_name("n").alias("x")).collect()]
    assert out == ["Cedar Lake Road", "Bear Creek Road"]


def test_fuzzy_ratio(spark):
    df = spark.createDataFrame(
        [("Cedar Lake Road", "Cedar Lake Road"), ("Cedar Lake Road", "Cedar Lk Road"), ("abc", "xyz")],
        "a string, b string",
    )
    out = [r["r"] for r in df.select(TG.fuzzy_ratio(F.col("a"), F.col("b")).alias("r")).collect()]
    assert out[0] == 100.0
    assert 80.0 <= out[1] < 100.0
    assert out[2] == 0.0


def test_opening_hours(spark):
    df = spark.createDataFrame([("05/15-11/30",), ("01/01-12/31",), ("junk",)], "d string")
    oh = [r["o"] for r in df.select(TG.opening_hours("d").alias("o")).collect()]
    assert oh == ["May-Nov", "Jan-Dec", None]
    se = [r["s"] for r in df.select(TG.is_seasonal("d").alias("s")).collect()]
    assert se == ["yes", "no", None]


def test_token_and_quality(spark):
    df = spark.createDataFrame([("the quick brown fox jumps over the lazy dog",), ("",), ("  ",)], "t string")
    tc = [r["c"] for r in df.select(TX.token_count("t").alias("c")).collect()]
    assert tc == [9, 0, 0]
    q = [r["q"] for r in df.select(TX.quality_score("t").alias("q")).collect()]
    assert 0 < q[0] <= 1.0 and q[1] >= 0


def test_detect_lang(spark):
    df = spark.createDataFrame(
        [("the cat sat of the mat and it is that",), ("der hund und die katze ist nicht ein",), ("zzz qqq",)],
        "t string",
    )
    out = [r["l"] for r in df.select(TX.detect_lang("t").alias("l")).collect()]
    assert out == ["en", "de", "und"]


def test_poly_hash_matches_python(spark):
    def py_hash(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % TX.HASH_MOD
        return acc

    rows = [("hello world",), ("a",), ("",)]
    df = spark.createDataFrame(rows, "t string")
    out = [r["h"] for r in df.select(TX.doc_fingerprint("t").alias("h")).collect()]
    assert out == [py_hash(s) for (s,) in rows]


def test_minhash_simhash_shapes(spark):
    df = spark.createDataFrame([("a b c d",), ("a b c d",), ("x y z w",), ("",)], "t string")
    out = df.select(
        TX.minhash_signature("t").alias("mh"), TX.simhash16("t").alias("sh")
    ).collect()
    assert out[0]["mh"] == out[1]["mh"]  # identical docs → identical signature
    assert out[0]["sh"] == out[1]["sh"]
    assert out[0]["mh"] != out[2]["mh"]
    assert len(out[0]["mh"]) == 8
    assert out[3]["mh"] == [TX.HASH_MOD] * 8  # empty doc sentinel


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",), ("ab",)], "t string")
    out = [r["g"] for r in df.select(TX.char_ngrams("t", 3).alias("g")).collect()]
    assert out[0] == ["abc", "bcd"]
    assert out[1] == ["ab"]  # shorter than n → the whole string once


def test_drop_degenerate_keep_points(spark):
    """P4: keep_points retains 1-vertex geometries (POI path); line mode
    drops them; NaN coordinates always drop."""
    from osm_merge_spark.functions import geo as GEO

    rows = [
        (1, [-105.0, 40.0, -104.9, 40.1]),  # line: kept in both modes
        (2, [-105.0, 40.0]),                # point: kept only with keep_points
        (3, None),                          # null
        (4, []),                            # empty
        (5, [-105.0]),                      # odd length
        (6, [float("nan"), 40.0]),          # NaN coordinate
    ]
    df = spark.createDataFrame(rows, "id long, geom array<double>")
    lines = {r["id"] for r in GEO.drop_degenerate(df).collect()}
    pts = {r["id"] for r in GEO.drop_degenerate(df, keep_points=True).collect()}
    assert lines == {1}
    assert pts == {1, 2}


def test_wkt_decode_kinds(spark):
    """POINT, LINESTRING and POLYGON decode to their (outer-ring) vertices;
    null, empty, EMPTY and other kinds to an empty array, never null."""
    from osm_merge_spark.functions import geo as GEO

    texts = [
        "POINT(-105.5 40.25)",
        "LINESTRING(-105 40,-104.99 40.01,-104.98 40.015)",
        "POLYGON((-105 40,-104.9 40,-104.9 40.1,-105 40.1,-105 40))",
        None,
        "",
        "POINT EMPTY",
        "MULTIPOINT((1 2),(3 4))",
        "LINESTRING M (1.0E-5 2.5e+3 7, .5 -4. 8)",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, wkt string")
    got = [r.g for r in df.select("i", GEO.geom_from_wkt(F.col("wkt")).alias("g")).orderBy("i").collect()]
    assert got == [
        [-105.5, 40.25],
        [-105.0, 40.0, -104.99, 40.01, -104.98, 40.015],
        [-105.0, 40.0, -104.9, 40.0, -104.9, 40.1, -105.0, 40.1, -105.0, 40.0],
        [],
        [],
        [],
        [],
        [1e-5, 2500.0, 0.5, -4.0],
    ]


def test_geojson_decode_matches_wkt(spark):
    """GeoJSON coordinates share the WKT vertex grammar: the same geometry
    decodes to the same array, also when a schema merge left the nested
    coordinates as JSON strings."""
    from osm_merge_spark.functions import geo as GEO

    rows = [
        ("Point", "[-105.5,39.5]", "POINT(-105.5 39.5)"),
        ("LineString", "[[-105.0,40.0],[-104.99,40.01,1800.5]]", "LINESTRING(-105.0 40.0,-104.99 40.01)"),
        ("LineString", '["[-105.0,40.0]","[-104.99,40.01]"]', "LINESTRING(-105.0 40.0,-104.99 40.01)"),
        ("Polygon", "[[[0,0],[10,0],[10,10],[0,0]],[[2,2],[3,2],[3,3],[2,2]]]", "POLYGON((0 0,10 0,10 10,0 0))"),
        ("MultiPoint", "[[1,2],[3,4]]", ""),
        ("Point", None, None),
    ]
    df = spark.createDataFrame(rows, "kind string, coords string, wkt string")
    got = df.select(
        GEO.geom_from_geojson(F.col("kind"), F.col("coords")).alias("a"), GEO.geom_from_wkt(F.col("wkt")).alias("b")
    ).collect()
    assert [r.a for r in got] == [r.b for r in got]
    assert [len(r.a) for r in got] == [2, 4, 4, 8, 0, 0]


def test_gram_codes_exact_bijection(spark):
    """TX.gram_codes must be a bijection on <=3-char grams for any unicode
    input: per-doc distinct counts AND pairwise intersection sizes over the
    codes equal those over the original gram strings (the r6 jaccard
    pipelines rely on this for bit-identical inter/union sizes)."""
    texts = [
        "the quick brown fox",
        "th",  # shorter than one gram
        "",
        "naïve café déjà vu ünïcödé",
        "混合 unicode 文字列 with ascii",
        "aaabaaacaaab",  # repeated grams exercise distinctness
        "x\ty\nz space  runs",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    out = df.select(
        "id",
        TX.char_ngrams(F.col("text"), 3).alias("grams"),
        TX.gram_codes(TX.char_ngrams(F.col("text"), 3)).alias("codes"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    for r in out:
        assert len(set(r["grams"])) == len(set(r["codes"])), r["id"]
        assert len(r["grams"]) == len(r["codes"])
    # pairwise set sizes agree between the string and code domains
    for a in out:
        for b in out:
            gi = len(set(a["grams"]) & set(b["grams"]))
            ci = len(set(a["codes"]) & set(b["codes"]))
            assert gi == ci, (a["id"], b["id"])
