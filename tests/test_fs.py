"""Hadoop FileSystem helpers (the HdfsHelper analog): cat / write /
ls / exists / delete round-trips on file://, and true create-or-append
semantics (reference: HdfsHelper.scala:25-77)."""

from __future__ import annotations

from data_misc_tools_spark.sources import fs


def test_write_cat_roundtrip(spark, tmp_path):
    p = f"file://{tmp_path}/a.txt"
    fs.write_text(spark, p, "hello\n")
    assert fs.cat(spark, p) == "hello\n"
    fs.write_text(spark, p, "bye\n")  # overwrite
    assert fs.cat(spark, p) == "bye\n"


def test_ls_exists_delete(spark, tmp_path):
    base = f"file://{tmp_path}"
    fs.write_text(spark, f"{base}/x.txt", "x")
    fs.write_text(spark, f"{base}/y.txt", "yy")
    names = [e["path"].rsplit("/", 1)[-1] for e in fs.ls(spark, base)]
    assert "x.txt" in names and "y.txt" in names
    sizes = {e["path"].rsplit("/", 1)[-1]: e["size"] for e in fs.ls(spark, base)}
    assert sizes["y.txt"] == 2
    assert fs.exists(spark, f"{base}/x.txt")
    assert fs.delete(spark, f"{base}/x.txt")
    assert not fs.exists(spark, f"{base}/x.txt")
    assert not fs.delete(spark, f"{base}/x.txt")  # absent -> False


def test_append_creates_then_appends(spark, tmp_path):
    p = f"file://{tmp_path}/log.txt"
    fs.append_text(spark, p, "first\n")   # absent -> create
    fs.append_text(spark, p, "second\n")  # exists -> append
    assert fs.cat(spark, p) == "first\nsecond\n"
    fs.append_text(spark, p, "third\n")
    assert fs.cat(spark, p) == "first\nsecond\nthird\n"


def test_glob_matches_an_escaped_literal_path(spark, tmp_path):
    base = f"file://{tmp_path}/a[1]{{b,c}}*?"
    fs.write_text(spark, f"{base}/v=1/_SUCCESS", "")
    fs.write_text(spark, f"{base}/v=2/part", "x")
    assert fs.escape_glob("a[1]{b,c}*?\\") == "a\\[1\\]\\{b,c\\}\\*\\?\\\\"
    hits = fs.glob(spark, fs.escape_glob(base) + "/v=*/_SUCCESS")
    assert [h["path"].rsplit("/", 2)[-2] for h in hits] == ["v=1"]
    assert hits[0]["mtime_ms"] == fs.stat(spark, f"{base}/v=1/_SUCCESS")["mtime_ms"]
    assert fs.glob(spark, f"file://{tmp_path}/absent/v=*") == []
