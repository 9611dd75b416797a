"""Unit tests for fread auto-detection, fwrite options, and the
multimodal mapInPandas plumbing."""

from __future__ import annotations

import os

import pytest

from data_table_spark.sources.fread import _detect_sep, _detect_header, fread
from data_table_spark.sources import fwrite
from data_table_spark.pipeline.multimodal import (
    attach_binary,
    extract_features,
    resize_images,
    sample_frames,
)

TMP = "/root/repo/.tmp"


def test_detect_sep():
    assert _detect_sep(["a,b,c", "1,2,3"]) == ","
    assert _detect_sep(["a\tb\tc", "1\t2\t3"]) == "\t"
    assert _detect_sep(["a|b", "1|2"]) == "|"


def test_detect_header():
    assert _detect_header(["name,qty", "x,1"], ",") is True
    assert _detect_header(["1,2", "3,4"], ",") is False


def test_fread_auto_tsv(spark):
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/auto.tsv"
    with open(p, "w") as f:
        f.write("k\tv\n1\talpha\n2\tbeta\n")
    dt = fread(spark, p)
    rows = {r["k"]: r["v"] for r in dt.collect()}
    assert rows == {1: "alpha", 2: "beta"}


def test_fwrite_gzip_and_array(spark):
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id", F.array(F.lit("a"), F.lit("b")).alias("tags")
    )
    out = f"{TMP}/gzcsv"
    fwrite(df, out, compress="gzip", sep2=";")
    back = fread(
        spark, out, col_classes={"id": "integer64", "tags": "character"}
    )
    got = {r["id"]: r["tags"] for r in back.collect()}
    assert got == {0: "a;b", 1: "a;b", 2: "a;b"}


def test_multimodal_stub_schemas(spark, tables):
    media = attach_binary(tables["documents"].df.limit(20))
    feats = extract_features(media)
    assert feats.columns == [
        "id", "media_type", "n_bytes", "content_md5", "width", "height"
    ]
    r = feats.limit(1).collect()[0]
    assert 1 <= r["width"] <= 512 and 1 <= r["height"] <= 512

    rs = resize_images(media, 224, 224).limit(1).collect()[0]
    assert rs["width"] == 224 and isinstance(rs["media"], (bytes, bytearray))

    fr = sample_frames(media, every_n=1)
    assert fr.columns == ["id", "frame_idx", "frame"]
    assert fr.count() >= 20  # flatMap shape: >= one frame per input

    with pytest.raises(NotImplementedError):
        extract_features(media, decoder="real")


def test_fwrite_parquet_partitioned(spark, tables):
    import os

    from data_table_spark.sources import fwrite_parquet

    out = f"{TMP}/part_parquet"
    fwrite_parquet(
        tables["orders"].df.select("o_orderkey", "o_orderstatus"),
        out, partition_by="o_orderstatus",
    )
    # partition directories exist and pruning path reads one of them
    dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    assert len(dirs) >= 2
    back = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    assert back.count() > 0
    # the PLAN prunes: the predicate lands in PartitionFilters (scan
    # skips every other partition directory — no data filter needed)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "o_orderstatus" in pf[0]


def test_idatetime_and_plike(spark, tables):
    from pyspark.sql import functions as F

    from data_table_spark.functions import idatetime, plike

    ev = tables["events"].df.limit(5)
    idate, itime = idatetime("ts")
    row = ev.select(idate, itime, F.hour("ts").alias("h")).collect()[0]
    assert row["itime"] // 3600 == row["h"]
    assert tables["part"].df.filter(plike("p_name", "^[a-z]+")).count() >= 0


def test_bucketed_join_is_shuffle_free(spark, tables):
    """fwrite_parquet(bucket_by=) persists the physical key like setkey:
    a join of two tables bucketed+sorted on the same key plans with NO
    shuffle Exchange (SortMergeJoin reads co-located buckets)."""
    import contextlib
    import io
    import re

    from data_table_spark.sources import fwrite_parquet

    import shutil

    spark.sql("DROP TABLE IF EXISTS bk_orders")
    spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    # a fresh session's in-memory catalog can't overwrite a leftover
    # managed-table location from a previous run — clear it
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bk_orders", "bk_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    fwrite_parquet(
        tables["orders"].df.select("o_orderkey", "o_totalprice"),
        path="", bucket_by="o_orderkey", n_buckets=8, table="bk_orders",
    )
    fwrite_parquet(
        tables["lineitem"].df.select("l_orderkey", "l_quantity"),
        path="", bucket_by="l_orderkey", n_buckets=8, table="bk_lineitem",
    )
    a = spark.table("bk_orders")
    b = spark.table("bk_lineitem")
    joined = a.join(b, a["o_orderkey"] == b["l_orderkey"]).where(
        "o_totalprice > 0"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    shuffles = re.findall(r"\(\d+\) Exchange", plan)
    assert not shuffles, f"expected shuffle-free bucketed join: {shuffles}"
    assert joined.count() > 0


def test_fread_text_and_dec(spark):
    dt = fread(spark, text="k;v\n1;2,5\n2;3,75\n", sep=";",
               col_classes={"k": "integer", "v": "double"}, dec=",")
    rows = {r["k"]: r["v"] for r in dt.collect()}
    assert rows == {1: 2.5, 2: 3.75}


def test_fread_cmd(spark):
    """fread(cmd=) parses a shell command's stdout (reference
    R/fread.R cmd= pipe)."""
    dt = fread(
        spark, cmd="printf 'k,v\\n1,a\\n2,b\\n'",
        col_classes={"k": "integer", "v": "character"},
    )
    rows = {r["k"]: r["v"] for r in dt.collect()}
    assert rows == {1: "a", 2: "b"}


def test_fwrite_fread_timestamp_roundtrip(spark, tables):
    """Timestamps survive the ISO dateTimeAs write + typed re-read to
    the microsecond (reference fwrite dateTimeAs='ISO')."""
    ev = tables["events"].df.select("event_id", "ts").limit(50)
    out = f"{TMP}/ts_roundtrip"
    fwrite(ev, out)
    back = fread(
        spark, out,
        col_classes={"event_id": "integer64", "ts": "POSIXct"},
    )
    orig = {r["event_id"]: r["ts"] for r in ev.collect()}
    got = {r["event_id"]: r["ts"] for r in back.collect()}
    assert got == orig


def test_dedup_clusters_transitive(spark):
    """A~B, B~C (no direct A~C pair) must land in ONE cluster labeled
    by the min id; disconnected docs keep their own id."""
    from data_table_spark.pipeline import dedup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], ["doc_a", "doc_b"]
    )
    out = dedup_clusters(docs, pairs=pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_fread_colclasses_partial_override(spark):
    """colClasses names a SUBSET of columns (reference R/fread.R:42
    normal usage): named columns take the declared type, every other
    column keeps its inferred type — nothing is dropped."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/colclasses.csv"
    with open(p, "w") as f:
        f.write("id,price,tag\n1,1.5,a\n2,2.5,b\n")
    dt = fread(spark, p, col_classes={"id": "character"})
    assert dt.columns == ["id", "price", "tag"]
    types = {f.name: f.dataType.simpleString() for f in dt.schema.fields}
    assert types["id"] == "string"       # overridden
    assert types["price"] == "double"    # inferred, kept
    assert types["tag"] == "string"
    assert {r["id"] for r in dt.collect()} == {"1", "2"}


def test_fread_multi_na_strings(spark):
    """na.strings=c('', 'NA', '-') — every token nullifies (reference
    R/fread.R na.strings; Spark's nullValue is single-valued so the
    rest normalize post-read; typed columns via deferred cast)."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/nastrings.csv"
    with open(p, "w") as f:
        f.write("k,v,w\n1,NA,x\n2,-,\n3,7,z\n")
    dt = fread(
        spark, p, na_strings=("", "NA", "-"),
        col_classes={"v": "integer"},
    )
    rows = {r["k"]: (r["v"], r["w"]) for r in dt.collect()}
    assert rows == {1: (None, "x"), 2: (None, None), 3: (7, "z")}


def test_fread_utf16_bom(spark):
    """UTF-16LE file with BOM (reference fixture utf16le.txt shape):
    encoding= reads it; values and header round-trip."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/utf16.csv"
    with open(p, "w", encoding="utf-16") as f:  # writes BOM
        f.write("k,name\n1,\u00e9clair\n2,sm\u00f6rg\u00e5s\n")
    dt = fread(spark, p, encoding="UTF-16", sep=",", header=True)
    rows = {r["k"]: r["name"] for r in dt.collect()}
    assert rows == {1: "\u00e9clair", 2: "sm\u00f6rg\u00e5s"}


def test_fread_utf8_bom_header(spark):
    """UTF-8 BOM must not leak into the first column name."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/bom.csv"
    with open(p, "wb") as f:
        f.write(b"\xef\xbb\xbfk,v\n1,2\n")
    dt = fread(spark, p)
    assert dt.columns == ["k", "v"]
    assert dt.collect()[0]["k"] == 1


def test_fwrite_qmethod_and_squash(spark):
    """qmethod='double' doubles embedded quotes (csv standard);
    dateTimeAs='squash' writes the 17-digit yyyyMMddHHmmssSSS integer
    (man/fwrite.Rd:49)."""
    import glob
    from datetime import datetime

    os.makedirs(TMP, exist_ok=True)
    df = spark.createDataFrame(
        [(1, 'say "hi"', datetime(2016, 9, 12, 18, 12, 16, 999000))],
        ["k", "s", "ts"],
    )
    p = f"{TMP}/fw_opts"
    fwrite(df, p, qmethod="double", date_time_as="squash", single_file=True)
    body = open(glob.glob(f"{p}/part-*.csv")[0]).read()
    assert '"say ""hi"""' in body
    assert "20160912181216999" in body


def test_fwrite_bom_yaml_header(spark):
    """bom=TRUE prepends EF BB BF; yaml=TRUE writes a CSVY metadata
    block before the data (man/fwrite.Rd:62-63)."""
    import glob

    os.makedirs(TMP, exist_ok=True)
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    p = f"{TMP}/fw_bomyaml"
    fwrite(df, p, bom=True, yaml=True, single_file=True)
    raw = open(glob.glob(f"{p}/part-*.csv")[0], "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf---\n")
    text = raw[3:].decode()
    assert "schema:" in text and "- name: k" in text
    assert text.rstrip().endswith("1,a")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="single_file"):
        fwrite(df, p, bom=True)


def test_rollup_label_vs_data_null(spark):
    """label= only relabels aggregate rows — a genuine NULL data value
    in a grouping column stays NULL (grouping() distinguishes them)."""
    from data_table_spark.core import DT
    from data_table_spark.operators.grouping import rollup
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a", 1), (None, 2)], ["g", "v"])
    out = rollup(DT(df), ["g"], j={"n": F.count(F.lit(1))}, label="TOT").df
    rows = {(r["g"], r["n"]) for r in out.collect()}
    assert ("TOT", 2) in rows      # grand total labeled
    assert (None, 1) in rows       # data NULL group NOT relabeled
    assert ("a", 1) in rows


def test_fread_quoted_multiline(spark):
    """Quoted field containing embedded newlines (reference fixture
    quoted_multiline.csv.bz2 shape): needs the per-file multiLine
    parser; doubled quotes inside the field too."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/multiline.csv"
    with open(p, "w") as f:
        f.write('k,txt\n1,"line one\nline two"\n2,"say ""hi"""\n')
    dt = fread(spark, p, sep=",", header=True, multiline=True)
    rows = {r["k"]: r["txt"] for r in dt.collect()}
    assert rows == {1: "line one\nline two", 2: 'say "hi"'}


def test_fread_latin1(spark):
    """Latin-1 encoded input (reference encoding= behavior)."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/latin1.csv"
    with open(p, "w", encoding="latin-1") as f:
        f.write("k,name\n1,café\n2,über\n")
    dt = fread(spark, p, encoding="ISO-8859-1", sep=",", header=True)
    rows = {r["k"]: r["name"] for r in dt.collect()}
    assert rows == {1: "café", 2: "über"}


def test_label_by_class_and_scalar_class_match(spark):
    """Reference R/groupingsets.R:133-143: a scalar label applies only
    to by-columns of the scalar's class; list keys may be class names
    ('character', 'integer', ...) applying to unnamed columns of that
    class, with column-name keys taking precedence; class mismatches
    error."""
    import pytest

    from data_table_spark.core import DT
    from data_table_spark.operators.grouping import rollup
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)],
        "g string, k int, v double",
    )
    dt = DT(df)
    # scalar: 'Total' is character -> labels g, leaves k NULL
    out = rollup(dt, ["g", "k"], {"s": F.sum("v")}, label="Total").df
    rows = {(r["g"], r["k"]) for r in out.collect()}
    assert ("Total", None) in rows
    assert not any(g is None for g, _ in rows)
    # class keys expand to unnamed columns; column key wins
    out2 = rollup(
        dt, ["g", "k"], {"s": F.sum("v")},
        label={"g": "ALL", "integer": 999},
    ).df
    rows2 = {(r["g"], r["k"]) for r in out2.collect()}
    assert ("ALL", 999) in rows2 and ("a", 999) in rows2
    with pytest.raises(ValueError):
        rollup(dt, ["g", "k"], {"s": F.sum("v")}, label={"k": "oops"})
    with pytest.raises(ValueError):
        rollup(dt, ["g", "k"], {"s": F.sum("v")}, label={"bogus": 1})


def test_fread_zip_archive(spark):
    """Reference R/fread.R:1-35: zip input (single member) unpacks and
    parses transparently."""
    import zipfile

    os.makedirs(TMP, exist_ok=True)
    inner = f"{TMP}/zipped_inner.csv"
    with open(inner, "w") as f:
        f.write("k,v\n1,alpha\n2,beta\n")
    zpath = f"{TMP}/zipped.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(inner, "zipped_inner.csv")
    dt = fread(spark, zpath)
    rows = {r["k"]: r["v"] for r in dt.collect()}
    assert rows == {1: "alpha", 2: "beta"}

    # multi-member archives are rejected (the reference's one-file rule)
    z2 = f"{TMP}/zipped2.zip"
    with zipfile.ZipFile(z2, "w") as zf:
        zf.write(inner, "a.csv")
        zf.write(inner, "b.csv")
    with pytest.raises(ValueError, match="exactly one file"):
        fread(spark, z2)


def test_fwrite_fread_csvy_roundtrip(spark):
    """fwrite(yaml=True) -> fread(yaml=True): names and types come from
    the YAML front matter, no inference guessing (reference R/fread.R
    yaml arg; man/fwrite.Rd:62)."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id",
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    out = f"{TMP}/csvy_rt"
    fwrite(df, out, single_file=True, yaml=True)
    back = fread(spark, out, yaml=True)
    assert [f.dataType.simpleString() for f in back.df.schema.fields] == [
        "bigint", "double", "string"
    ]
    got = {r["id"]: (r["x"], r["s"]) for r in back.collect()}
    assert got == {0: (0.0, "s0"), 1: (1.5, "s1"), 2: (3.0, "s2")}


def test_fwrite_csvy_timestamp_keeps_logical_type(spark):
    """ADVICE r13 (fwrite.py:242): the CSVY yaml header must describe
    the LOGICAL schema captured before the date_time_as / double
    renderings — a timestamp column is declared `timestamp`, not the
    string/bigint of its ISO/epoch rendering, so fread(yaml=True)
    round-trips the type."""
    import datetime
    import glob

    df = spark.createDataFrame(
        [(1, datetime.datetime(2021, 6, 1, 12, 30, 5), 2.5),
         (2, datetime.datetime(2021, 6, 2, 0, 0, 0), -8.0)],
        "id int, ts timestamp, x double",
    )
    out = f"{TMP}/csvy_ts"
    fwrite(df, out, single_file=True, yaml=True)
    head = open(glob.glob(f"{out}/*.csv")[0]).read().split("---")[1]
    assert "type: timestamp" in head and "type: double" in head
    back = fread(spark, out, yaml=True)
    assert [f.dataType.simpleString() for f in back.df.schema.fields] == [
        "int", "timestamp", "double"]
    got = {r["id"]: (r["ts"], r["x"]) for r in back.collect()}
    assert got[1] == (datetime.datetime(2021, 6, 1, 12, 30, 5), 2.5)
    assert got[2] == (datetime.datetime(2021, 6, 2), -8.0)


def test_fread_dec_auto_keeps_comment_char(spark):
    """ADVICE r13 (fread.py:593): the dec-auto re-entry forwards
    comment_char / blank_lines_skip, so a comma-decimal file with
    comment lines keeps dropping them after detection."""
    p = f"{TMP}/dec_auto_comment.csv"
    with open(p, "w") as f:
        f.write("# report header\n"
                "a;b\n"
                "1,5;x\n"
                "\n"
                "# mid comment\n"
                "2,25;y\n")
    dt = fread(spark, p, sep=";", comment_char="#")
    assert [f.dataType.simpleString() for f in dt.df.schema.fields] == [
        "double", "string"]
    assert {r["a"]: r["b"] for r in dt.collect()} == {1.5: "x", 2.25: "y"}


def test_fread_csvy_handwritten(spark):
    """A csvy.org-style hand-written front matter: sep + field types are
    honored without inference."""
    p = f"{TMP}/hand.csvy"
    with open(p, "w") as f:
        f.write(
            "---\n"
            "sep: ';'\n"
            "schema:\n"
            "  fields:\n"
            "  - name: k\n"
            "    type: integer\n"
            "  - name: val\n"
            "    type: number\n"
            "---\n"
            "k;val\n"
            "1;2.5\n"
            "2;4.5\n"
        )
    dt = fread(spark, p, yaml=True)
    assert [f.dataType.simpleString() for f in dt.df.schema.fields] == [
        "int", "double"
    ]
    assert {r["k"]: r["val"] for r in dt.collect()} == {1: 2.5, 2: 4.5}


def test_fread_bz2(spark):
    """bz2-compressed csv reads transparently via the Hadoop codec
    (reference R/fread.R:1-35 decompression reopeners)."""
    import bz2

    p = f"{TMP}/comp.csv.bz2"
    with bz2.open(p, "wt") as f:
        f.write("k,v\n1,alpha\n2,beta\n")
    dt = fread(spark, p)
    assert {r["k"]: r["v"] for r in dt.collect()} == {1: "alpha", 2: "beta"}


def test_scrub_pii(spark):
    """PII scrub masks emails/IPs/phones and counts per kind; ordered
    masking prevents re-matching."""
    from data_table_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.b@x.io and b@y.org ip 10.1.2.3 tel +15551234567"),
         (2, "clean text")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    r1 = rows[1]
    assert (r1.n_email, r1.n_ip, r1.n_phone, r1.n_pii) == (2, 1, 1, 4)
    assert r1.text_scrubbed == (
        "mail [EMAIL] and [EMAIL] ip [IP] tel [PHONE]"
    )
    r2 = rows[2]
    assert r2.n_pii == 0 and r2.text_scrubbed == "clean text"


def test_fread_strip_white_and_logical01(spark):
    """strip.white (reference R/fread.R:40, default TRUE) trims field
    padding; logical01 (R/fread.R:41) promotes integer columns holding
    only 0/1 to boolean via one exact min/max aggregate."""
    os.makedirs(TMP, exist_ok=True)
    p = f"{TMP}/stripwhite.csv"
    with open(p, "w") as f:
        f.write("id,tag,flag\n1,  a  ,1\n2,  b  ,0\n3, c ,1\n")
    dt = fread(spark, p, logical01=True)
    assert [r["tag"] for r in dt.df.orderBy("id").collect()] == ["a", "b", "c"]
    types = {f.name: f.dataType.simpleString() for f in dt.schema.fields}
    assert types["flag"] == "boolean"       # 0/1 promoted
    assert types["id"] == "int"             # 1..3 stays integer
    assert [r["flag"] for r in dt.df.orderBy("id").collect()] == [True, False, True]
    # strip_white=False keeps the padding (Spark csv default behavior)
    raw = fread(spark, p, strip_white=False)
    assert [r["tag"] for r in raw.df.orderBy("id").collect()] == ["  a  ", "  b  ", " c "]


def test_fwrite_fread_logical01_roundtrip(spark):
    """fwrite(logical01=True) writes booleans as 1/0 (reference
    R/fwrite.R:6); fread(logical01=True) promotes them back."""
    from data_table_spark.sources.fwrite import fwrite

    os.makedirs(TMP, exist_ok=True)
    out = f"{TMP}/logical01_rt"
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, True)], ["id", "flag"]
    )
    fwrite(df, out, single_file=True, logical01=True)
    import glob
    fpath = glob.glob(f"{out}/*.csv")[0]
    body = open(fpath).read()
    assert "true" not in body and "1" in body
    back = fread(spark, fpath, logical01=True)
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert types["flag"] == "boolean"
    assert {r["id"]: r["flag"] for r in back.collect()} == {1: True, 2: False, 3: True}


def test_fwrite_scipen_2112(spark):
    """fwrite scipen= (reference R/fwrite.R:7,26, src/fwrite.c:184
    writeNumeric; tests.Rraw 2112, round-13 port): R-exact double
    rendering — 15 significant digits, fixed vs scientific decided by
    the reference width formula, scipen biasing toward fixed."""
    import glob

    from data_table_spark.sources.fwrite import fwrite

    os.makedirs(TMP, exist_ok=True)

    def written(vals, scipen, ncol=None):
        out = f"{TMP}/scipen_{scipen}_{abs(hash(tuple(vals)))%10**8}"
        if isinstance(vals[0], tuple):
            df = spark.createDataFrame(vals, ncol)
        else:
            df = spark.createDataFrame([(v,) for v in vals], "a double")
        fwrite(df, out, single_file=True, scipen=scipen)
        body = open(glob.glob(f"{out}/*.csv")[0]).read().strip().split("\n")
        return body[1:]  # drop header

    row = [(0.0001, 10.0**6, -20.0)]
    hdr = "a double, b double, c double"
    # 2112.01/.02: default scipen=0 (None means 0, not the R option)
    assert written(row, 0, hdr) == ["1e-04,1e+06,-20"]
    assert written(row, None, hdr) == ["1e-04,1e+06,-20"]
    # 2112.07/.03: scipen=1 flips only the first column to fixed
    assert written(row, 1, hdr) == ["0.0001,1e+06,-20"]
    # 2112.08: scipen=2 flips the million too
    assert written(row, 2, hdr) == ["0.0001,1000000,-20"]
    # 2112.06: huge scipen = everything fixed
    assert written(row, 999, hdr) == ["0.0001,1000000,-20"]
    # 2112.09/.10/.11: negative scipen biases toward scientific
    assert written(row, -3, hdr) == ["1e-04,1e+06,-20"]
    assert written(row, -4, hdr) == ["1e-04,1e+06,-2e+01"]
    assert written(row, -999, hdr) == ["1e-04,1e+06,-2e+01"]
    # 2112.12: powers of 10^100 + pi at scipen=0, incl. Inf and 0
    # R's 10^(-400) underflows to 0 and 10^400 overflows to Inf
    vals = [0.0, 1e-300, 1e-200, 1e-100, 1.0, 1e100, 1e200, 1e300,
            float("inf"), 3.141592653589793]
    got = written(vals, 0)
    assert sorted(got) == sorted([
        "0", "1e-300", "1e-200", "1e-100", "1", "1e+100", "1e+200",
        "1e+300", "Inf", "3.14159265358979",
    ])
    # 2112.13 (spot): scipen=999 writes 1e-100 as 0.000...01 (100
    # zeros incl. the leading one) and 1e+100 as 1 followed by 100 zeros
    got = written([1e-100, 1e100], 999)
    assert sorted(got) == sorted(["0." + "0" * 99 + "1", "1" + "0" * 100])
    # NaN writes the na= string (src/fwrite.c:195); sign survives
    out = f"{TMP}/scipen_nan"
    df = spark.createDataFrame([(float("nan"),), (-0.5,)], "a double")
    fwrite(df, out, single_file=True, na="NA")
    body = open(glob.glob(f"{out}/*.csv")[0]).read().strip().split("\n")
    assert sorted(body[1:]) == sorted(["NA", "-0.5"])


def test_fwrite_dec_and_force_decimal(spark):
    """fwrite dec= (tests.Rraw 1733.2/2337) and forceDecimal=
    (tests.Rraw 2338, #2864): the decimal separator is swappable and
    whole-number doubles can carry a bare trailing separator; integers
    never do; dec==sep with >1 populated column raises."""
    import glob

    import pytest as _pytest

    from data_table_spark.sources.fwrite import fwrite

    os.makedirs(TMP, exist_ok=True)

    def written(df, tag, **kw):
        out = f"{TMP}/dec_{tag}"
        fwrite(df, out, single_file=True, **kw)
        return open(glob.glob(f"{out}/*.csv")[0]).read().strip().split("\n")

    # 1733.2: dec="," sep=";" — whole-number double drops the dec,
    # pi keeps 15 significant digits with a comma
    df = spark.createDataFrame(
        [(1.2, 1), (-8.0, 2), (3.141592653589793, 3), (67.99, 4)],
        "V1 double, V2 int",
    )
    assert written(df, "1733", dec=",", sep=";") == [
        "V1;V2", "1,2;1", "-8;2", "3,14159265358979;3", "67,99;4"]
    # 2338.1/.2: forceDecimal appends a bare separator to whole doubles
    dd = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    assert written(dd, "2338a", force_decimal=True) == [
        "x", "1.", "2.", "3."]
    assert written(dd, "2338b", force_decimal=True, dec=",", sep="\t") == [
        "x", "1,", "2,", "3,"]
    assert written(dd, "2338c", force_decimal=False) == ["x", "1", "2", "3"]
    # 2338.4: integer columns unaffected
    di = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    assert written(di, "2338d", force_decimal=True) == ["x", "1", "2", "3"]
    # 2338.5-.7: zero writes "0."
    dz = spark.createDataFrame([(0.0,), (-0.0,)], "x double")
    assert written(dz, "2338e", force_decimal=True) == ["x", "0.", "0."]
    # ADVICE r13 (src/fwrite.c:270): forceDecimal widens whole numbers
    # by the appended separator BEFORE the fixed-vs-scientific
    # threshold compare — 1e4 (width 5==threshold without the pad)
    # flips to scientific under forceDecimal; 1e3 stays fixed
    db = spark.createDataFrame([(10000.0,), (1200000.0,)], "x double")
    assert written(db, "2338f", force_decimal=False) == [
        "x", "10000", "1200000"]
    assert written(db, "2338g", force_decimal=True) == [
        "x", "1e+04", "1.2e+06"]
    assert written(spark.createDataFrame([(1000.0,)], "x double"),
                   "2338h", force_decimal=True) == ["x", "1000."]
    # 2337.2: dec==sep with two populated columns raises
    with _pytest.raises(ValueError, match="dec and sep must be distinct"):
        fwrite(spark.createDataFrame([(0.1, 0.2)], "a double, b double"),
               f"{TMP}/dec_err", dec=",", sep=",")
    # 2337.4: zero-row frame is allowed even with dec==sep
    written(spark.createDataFrame([], "a double, b double"),
            "2337d", dec=",", sep=",")


def test_fwrite_iso_subsecond_and_dec_2281(spark):
    """fwrite ISO timestamps follow writePOSIXct (src/fwrite.c:421;
    tests.Rraw 2281): zero subseconds are omitted, whole milliseconds
    write 3 digits, microseconds write 6, and dec=',' swaps the
    subsecond separator ("...00:00:00,001Z")."""
    import glob
    from datetime import datetime

    from data_table_spark.sources.fwrite import fwrite

    os.makedirs(TMP, exist_ok=True)
    df = spark.createDataFrame(
        [
            (1, datetime(1970, 1, 1, 0, 0, 0, 1000)),    # 2281.1: 1ms
            (2, datetime(1970, 1, 1, 0, 0, 0, 100)),     # 2281.2: 100µs
            (3, datetime(2016, 9, 12, 18, 12, 16)),      # whole second
        ],
        ["k", "ts"],
    )
    out = f"{TMP}/iso_dec"
    fwrite(df, out, single_file=True, dec=",", sep=";")
    lines = open(glob.glob(f"{out}/*.csv")[0]).read().strip().split("\n")
    got = dict(ln.split(";") for ln in lines[1:])
    assert got["1"] == "1970-01-01T00:00:00,001Z"
    assert got["2"] == "1970-01-01T00:00:00,000100Z"
    assert got["3"] == "2016-09-12T18:12:16Z"
    # default dec="." keeps the same 0/3/6-digit rule
    out = f"{TMP}/iso_dot"
    fwrite(df, out, single_file=True)
    lines = open(glob.glob(f"{out}/*.csv")[0]).read().strip().split("\n")
    got = dict(ln.split(",") for ln in lines[1:])
    assert got["1"] == "1970-01-01T00:00:00.001Z"
    assert got["3"] == "2016-09-12T18:12:16Z"


def test_fread_auto_dec_2256(spark):
    """fread auto-detects dec=',' from a balance of comma-decimal vs
    dot-decimal sampled fields (reference src/fread.c:1322/2167;
    tests.Rraw 2256): a ';'-separated file with comma decimals reads
    the column as DOUBLE with no col_classes; sep=',' never attempts
    detection; dot files keep dec='.'."""
    os.makedirs(TMP, exist_ok=True)
    # 2256.05/.06 shape: letters, fractional doubles, ints
    p = f"{TMP}/autodec.csv"
    with open(p, "w") as f:
        f.write("a;b;c\n")
        for i in range(1, 27):
            f.write(f"x{i};{i},5;{i}\n")
    dt = fread(spark, p)
    types = dict(dt.df.dtypes)
    assert types["b"] == "double" and types["c"] in ("int", "bigint")
    rows = {r["a"]: r["b"] for r in dt.collect()}
    assert rows["x1"] == 1.5 and rows["x26"] == 26.5
    # one-line form of 2256.06
    dt = fread(spark, text="a;b\n1,14;5\n", sep=";")
    row = dt.collect()[0]
    assert row["a"] == 1.14 and row["b"] == 5
    # sep=',' disables detection: quoted comma-decimals stay strings
    p2 = f"{TMP}/autodec_comma.csv"
    with open(p2, "w") as f:
        f.write('a,b\n"1,14",5\n"2,5",6\n')
    dt = fread(spark, p2)
    assert dict(dt.df.dtypes)["a"] == "string"
    # dot-decimal ';' file keeps dec='.'
    dt = fread(spark, text="a;b\n1.14;5\n", sep=";")
    row = dt.collect()[0]
    assert row["a"] == 1.14 and row["b"] == 5


def test_fread_tail_edges_2345_2359(spark):
    """tests.Rraw tail fread edges (round-13): 2345 — a single QUOTED
    column whose values are quoted datetimes infers timestamp; 2359 —
    a trailing \\x1A (ASCII SUB, DOS EOF marker) does not become data.
    (2355's skip=0 ragged-header nuance intentionally differs: with
    header='auto' a names-looking first line IS the header here; the
    reference demotes it when the field count disagrees — documented,
    fill=TRUE keeps all data rows either way.)"""
    import datetime

    dt = fread(spark, text='"this_that"\n"2025-01-01 00:00:01"')
    assert dict(dt.df.dtypes)["this_that"] == "timestamp"
    assert dt.collect()[0]["this_that"] == datetime.datetime(
        2025, 1, 1, 0, 0, 1)

    txt = "foo\n" + "a" * 1000 + "\x1a"
    dt = fread(spark, text=txt)
    rows = dt.collect()
    assert len(rows) == 1 and len(rows[0]["foo"]) == 1000
