"""fread line-path edge inputs: the exact rows and dtypes each input
must produce.

The default CSV read cleans its lines before the csv parser sees them:
blank lines dropped, NUL bytes stripped, comment lines removed, and
whitespace runs collapsed for aligned files. The expected values below
were recorded from the Python-lambda line path that the JVM Column
expressions replaced, so they pin that the two agree on every input
here. Python's ``str.isspace`` set (29 characters) is the definition of
"blank" and "whitespace"; Java's ``trim`` and ``\\s`` cover different
sets, so each member is exercised on its own line.
"""

from __future__ import annotations

import gzip
import importlib

import pytest

WS = "".join(c for c in map(chr, range(0x110000)) if c.isspace())


def _blank_each_ws() -> str:
    out = ["a,b"]
    for i, c in enumerate(WS):
        out.append(f"{i},x{i}")
        out.append(c + c)
    return "\n".join(out) + "\n"


def _nul_after_sample() -> str:
    out = ["k,v"]
    for i in range(70):
        line = f"{i},v{i}"
        if i in (55, 61, 69):
            line = line[:1] + "\x00" + line[1:] + "\x00"
        out.append(line)
    return "\n".join(out) + "\n"


_ALIGNED = (
    "  id   name   score\n"
    "   1   ann     1.5\n"
    "\n"
    "   2   bob\xa0\xa0  2.5\n"
    "   3　cy\t\t3.5   \n"
    "   4   dee  4.5\n"
)

# name -> (file suffix, file text, fread kwargs)
CASES = {
    "blank_each_ws": (".csv", _blank_each_ws(), {}),
    "blank_each_ws_explicit": (
        ".csv", _blank_each_ws(), {"sep": ",", "header": True}),
    "blank_each_ws_classes": (
        ".csv", _blank_each_ws(), {"col_classes": {"a": "character"}}),
    "nul_after_sample": (".csv", _nul_after_sample(), {}),
    "nul_after_sample_explicit": (
        ".csv", _nul_after_sample(), {"sep": ",", "header": True}),
    "crlf": (".csv", "a,b\r\n1,x\r\n\r\n2,y\r\n \r\n3,z\r\n", {}),
    "comment": (
        ".csv", "#top\na,b\n1,x\n# mid\n2,y\n#\n3,z\n",
        {"comment_char": "#"}),
    "comment_nrows": (
        ".csv", "#top\na,b\n1,x\n# mid\n2,y\n#\n3,z\n",
        {"comment_char": "#", "nrows": 2}),
    "aligned": (".txt", _ALIGNED, {}),
    "aligned_explicit": (".txt", _ALIGNED, {"sep": r"\s+", "header": True}),
    "gz": (".csv.gz", "a,b\n1,x\n\n \t\n2,y\n\xa0\n3,z\n", {}),
    "skip_blank": (".csv", "junk\n\njunk2\na,b\n\n1,x\n2,y\n", {"skip": 3}),
    "fill_ragged": (".csv", "a,b\n1,x\n2,y,z\n\n3\n", {"fill": True}),
    "nrows_bad_tail": (".csv", "a,b\n1,x\n2,y\n3,z,extra,bad\n", {"nrows": 2}),
    "cr_only": (".csv", "a,b\r1,x\r\r2,y\r", {}),
}


def write_case(tmp_path, name: str) -> str:
    suffix, text, _ = CASES[name]
    p = tmp_path / f"{name}{suffix}"
    data = text.encode("utf-8")
    if suffix.endswith(".gz"):
        data = gzip.compress(data, mtime=0)
    p.write_bytes(data)
    return str(p)


def read_case(spark, tmp_path, name: str):
    from data_table_spark.sources import fread

    df = fread(spark, write_case(tmp_path, name), **CASES[name][2]).df
    return df.dtypes, [tuple(r) for r in df.collect()]


_BLANK_ROWS = [(i, f"x{i}") for i in range(len(WS))]
_NUL_ROWS = [(i, f"v{i}") for i in range(70)]
_ALIGNED_ROWS = [(1, "ann", 1.5), (2, "bob", 2.5), (3, "cy", 3.5),
                 (4, "dee", 4.5)]
_ALIGNED_TYPES = [("id", "int"), ("name", "string"), ("score", "double")]

EXPECTED = {
    "blank_each_ws": ([("a", "int"), ("b", "string")], _BLANK_ROWS),
    "blank_each_ws_explicit": ([("a", "int"), ("b", "string")], _BLANK_ROWS),
    "blank_each_ws_classes": (
        [("a", "string"), ("b", "string")],
        [(str(i), b) for i, b in _BLANK_ROWS]),
    "nul_after_sample": ([("k", "int"), ("v", "string")], _NUL_ROWS),
    "nul_after_sample_explicit": ([("k", "int"), ("v", "string")], _NUL_ROWS),
    "crlf": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y"), (3, "z")]),
    "comment": (
        [("a", "int"), ("b", "string")], [(1, "x"), (2, "y"), (3, "z")]),
    "comment_nrows": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y")]),
    "aligned": (_ALIGNED_TYPES, _ALIGNED_ROWS),
    "aligned_explicit": (_ALIGNED_TYPES, _ALIGNED_ROWS),
    "gz": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y"), (3, "z")]),
    "skip_blank": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y")]),
    "fill_ragged": (
        [("a", "bigint"), ("b", "string"), ("V3", "string")],
        [(1, "x", None), (2, "y", "z"), (3, None, None)]),
    "nrows_bad_tail": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y")]),
    "cr_only": ([("a", "int"), ("b", "string")], [(1, "x"), (2, "y")]),
}


def test_ws_set_is_python_isspace():
    fread_mod = importlib.import_module("data_table_spark.sources.fread")
    assert len(WS) == 29
    assert {"\x1c", "\x1f", "\x85", "\xa0", "　"} <= set(WS)
    assert fread_mod._WS == WS


def test_default_fread_stays_in_the_jvm(spark, tmp_path):
    """A default read of a clean UTF-8 CSV feeds the csv parser from a
    file scan: no Python RDD anywhere in the lineage."""
    from data_table_spark.sources import fread

    p = tmp_path / "clean.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    qe = fread(spark, str(p)).df._jdf.queryExecution()
    lineage = qe.logical().rdd().toDebugString()
    assert "ExternalRDD" not in qe.logical().toString()
    assert "PythonRDD" not in lineage
    assert "FileScanRDD" in lineage


@pytest.mark.parametrize("name", sorted(CASES))
def test_fread_edge_input(spark, tmp_path, name):
    assert read_case(spark, tmp_path, name) == EXPECTED[name]
