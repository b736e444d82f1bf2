"""HTML-table batch source tests (reference ``scraper/table_scraper.py``
semantics: alltable class rule, thead/tbody requirement, th.header schema,
td.tleft2-first row assembly)."""

from __future__ import annotations

from market_data_ingestion_scraper_spark.sources.html_table import (
    parse_alltable,
    read_html_tables,
    render_alltable,
)


def test_parse_roundtrip():
    headers = ["A", "B", "C"]
    rows = [["1", "x", "y"], ["2", "p", "q"]]
    got = parse_alltable(render_alltable(headers, rows))
    assert got == (headers, rows)


def test_missing_thead_or_tbody_returns_none():
    # reference table_scraper.py:11-12: both required
    assert parse_alltable("<table class='alltable'><tbody></tbody></table>") is None
    assert parse_alltable("<table class='alltable'><thead></thead></table>") is None
    assert parse_alltable("<table class='other'><thead></thead><tbody></tbody></table>") is None


def test_only_alltable_class_is_read():
    html = (
        "<table class='other'><thead><tr><th class='header'>X</th></tr></thead>"
        "<tbody><tr><td class='tleft2'>nope</td></tr></tbody></table>"
        + render_alltable(["H"], [["yes"]])
    )
    assert parse_alltable(html) == (["H"], [["yes"]])


def test_row_assembly_tleft2_first_then_tleft_in_order():
    # tleft2 appears mid-row in the markup; the reference still puts it
    # first (find() vs find_all()), and non-matching tds are ignored
    html = (
        "<table class='alltable'><thead><tr>"
        "<th class='header'>A</th><th class='header'>B</th>"
        "<th class='header'>C</th></tr></thead><tbody><tr>"
        "<td class='tleft'>b</td>"
        "<td class='other'>skip</td>"
        "<td class='tleft2'>a</td>"
        "<td class='tleft'>c</td>"
        "</tr></tbody></table>"
    )
    assert parse_alltable(html) == (["A", "B", "C"], [["a", "b", "c"]])


def test_nested_markup_text_is_stripped_and_concatenated():
    html = (
        "<table class='alltable'><thead><tr><th class='header'> H </th></tr>"
        "</thead><tbody><tr><td class='tleft2'> a <b>b</b> </td></tr>"
        "</tbody></table>"
    )
    assert parse_alltable(html) == (["H"], [["ab"]])  # bs4 get_text(strip=True)


def test_distributed_scan_skips_foreign_and_ragged(spark, tmp_path):
    (tmp_path / "good.html").write_text(
        render_alltable(["K", "V"], [["1", "one"], ["2", "two"]])
    )
    (tmp_path / "foreign.html").write_text(  # different headers → skipped
        render_alltable(["X"], [["zzz"]])
    )
    (tmp_path / "ragged.html").write_text(  # arity-mismatched row dropped
        render_alltable(["K", "V"], [["3", "three"], ["4"]])
    )
    df = read_html_tables(spark, str(tmp_path), ["K", "V"], columns=["k", "v"])
    rows = {(r["k"], r["v"]) for r in df.collect()}
    assert rows == {("1", "one"), ("2", "two"), ("3", "three")}
    assert df.columns == ["k", "v", "src_file", "row_idx"]


def test_union_mode_accepts_header_variants(spark, tmp_path):
    # the reference scrapes whatever headers a commodity page carries
    # (table_scraper.py:16); mode='union' lands variant pages by header
    # NAME under the caller's superset schema instead of skipping them
    (tmp_path / "full.html").write_text(
        render_alltable(["K", "V", "W"], [["1", "one", "uno"]])
    )
    (tmp_path / "missing_col.html").write_text(  # no W header → null
        render_alltable(["K", "V"], [["2", "two"]])
    )
    (tmp_path / "reordered.html").write_text(  # order differs → by-name map
        render_alltable(["V", "K", "W"], [["three", "3", "tres"]])
    )
    (tmp_path / "extra_col.html").write_text(  # header outside superset dropped
        render_alltable(["K", "V", "W", "Z"], [["4", "four", "cuatro", "zz"]])
    )
    superset = ["K", "V", "W"]
    union = read_html_tables(spark, str(tmp_path), superset, mode="union")
    got = {(r["K"], r["V"], r["W"]) for r in union.collect()}
    assert got == {
        ("1", "one", "uno"),
        ("2", "two", None),
        ("3", "three", "tres"),
        ("4", "four", "cuatro"),
    }
    # strict mode is unchanged: only the exact-header page lands
    strict = read_html_tables(spark, str(tmp_path), superset)
    assert {(r["K"], r["V"], r["W"]) for r in strict.collect()} == {
        ("1", "one", "uno")
    }
