"""Profile auto-match (reference utils/config.py:153-168) and the run-
report renderer (reference core/reporter.py:22-89) on fixed fixtures."""

from __future__ import annotations

import datetime as dt

import pytest

from datamatcher_spark.plans.profiles import match_profile


def test_match_profile_precedence(tmp_path):
    p1 = tmp_path / "p1.json"
    p2 = tmp_path / "p2.json"
    p1.write_text("{}")
    p2.write_text("{}")
    missing = tmp_path / "gone.json"
    patterns = [
        {"pattern": "[invalid(", "profile": str(p1)},      # bad regex → skipped
        {"pattern": "supplier", "profile": str(missing)},  # file missing → skipped
        {"pattern": "SUPPLIER", "profile": str(p1)},       # IGNORECASE search
        {"pattern": ".*", "profile": str(p2)},             # later entry never reached
    ]
    assert match_profile("new_supplier_feed_2026.csv", patterns) == str(p1)
    # first match wins in list order
    assert match_profile("anything.xlsx", patterns) == str(p2)
    # substring search, not anchored
    assert match_profile("X_Supplier_Y.xls", patterns) == str(p1)
    # nothing matches → None
    assert match_profile("???", [{"pattern": "^zzz$", "profile": str(p1)}]) is None
    # entries without keys are skipped, not fatal
    assert match_profile("f.csv", [{}, {"pattern": "f"}, {"profile": str(p1)}]) is None
    # require_exists=False returns paths the driver can't stat
    assert (
        match_profile("supplier.csv", [{"pattern": "sup", "profile": "s3://b/p.json"}],
                      require_exists=False)
        == "s3://b/p.json"
    )


def test_execute_profile_end_to_end(spark):
    """A Profile drives the whole enrichment: batch filter → per-source
    enrich-join → mapping fold, with source_id binding mappings to their
    source (reference core/mapping.py:154, get_by_source:314-316)."""
    from datamatcher_spark.operators.merge import ColumnMapping, WriteMode
    from datamatcher_spark.plans.profiles import (
        BatchFilterSpec,
        Profile,
        SourceSpec,
        execute_profile,
    )

    frames = {
        "base": spark.createDataFrame(
            [("001", "old title", ""), ("002", "", ""), ("099", "keep", "")],
            "ean string, title string, brand string",
        ),
        "s1": spark.createDataFrame(
            [("1", "S1 TITLE one"), ("2", "S1 TITLE two")],
            "ean string, tytul string",
        ),
        "s2": spark.createDataFrame(
            [("1", "BrandA"), ("99", "BrandZ")],
            "ean string, marka string",
        ),
    }
    prof = Profile(
        name="multi",
        base=SourceSpec("base", "base", "ean", {"strip_leading_zeros": True}),
        sources=[SourceSpec("s1", "s1", "ean"), SourceSpec("s2", "s2", "ean")],
        mappings=[
            ColumnMapping(source_column="tytul", target_column="title",
                          write_mode=WriteMode.OVERWRITE, source_id="s1"),
            ColumnMapping(source_column="marka", target_column="brand",
                          write_mode=WriteMode.FILL_EMPTY, source_id="s2"),
        ],
        batch_filter=BatchFilterSpec(kind="regex", pattern="^00"),
    )
    out, sources_info, mappings_info = execute_profile(
        spark, prof, load=lambda p: frames[p]
    )
    rows = {r.ean: r for r in out.collect()}
    assert set(rows) == {"001", "002"}           # batch filter dropped 099
    assert rows["001"].title == "S1 TITLE one"   # s1 mapping, zero-stripped key
    assert rows["002"].title == "S1 TITLE two"
    assert rows["001"].brand == "BrandA"          # s2 mapping
    assert rows["001"]["__change_title"] == "changed"
    assert rows["002"]["__change_brand"] == "no_match"
    assert len(sources_info) == 2
    assert sources_info[0]["matched"] == 2 and sources_info[0]["total_base"] == 2
    assert sources_info[1]["matched"] == 1
    assert [m["target_column"] for m in mappings_info] == ["title", "brand"]
    # no working columns leak into the result
    assert not [c for c in out.columns if c.startswith("src_") or c == "__matched"]


def test_run_report_sections(spark, tmp_path):
    from datamatcher_spark.operators.report_render import (
        collect_run_stats,
        export_unmatched,
        generate_summary,
        save_report,
    )

    merged = spark.createDataFrame(
        [
            ("A", "new", "unchanged"),
            ("B", "changed", "changed"),
            ("C", "no_match", "no_match"),
            ("D", "unchanged", "unchanged"),
        ],
        "ean string, __change_title string, __change_price string",
    )
    stats = collect_run_stats(merged, "ean")
    assert stats["total_rows"] == 4
    assert stats["rows_with_changes"] == 2
    assert stats["rows_no_match"] == 1
    assert stats["cells_changed_by_target"] == {"price": 1, "title": 2}
    assert stats["cells_total_modified"] == 3
    assert stats["unmatched_keys"] == ["C"]

    mappings_info = [
        {"source_column": "tytul_pelny", "target_column": "title",
         "write_mode": "overwrite",
         "cells_changed": stats["cells_changed_by_target"]["title"]},
        {"source_column": "cena", "target_column": "price",
         "write_mode": "fill_empty",
         "cells_changed": stats["cells_changed_by_target"]["price"]},
    ]
    sources_info = [
        {"filename": "dostawca.xlsx", "key_column": "ean",
         "matched": 3, "total_base": 4},
    ]
    text = generate_summary(
        stats, "baza.xlsx", "ean", sources_info, mappings_info,
        timestamp=dt.datetime(2026, 8, 16, 12, 0, 0),
    )
    lines = text.splitlines()
    # section structure in reference order
    for marker in ["RAPORT DATAMATCHER", "PLIK BAZOWY: baza.xlsx", "KLUCZ: ean",
                   "WIERSZY: 4", "ŹRÓDŁA DANYCH:", "WYKONANE MAPOWANIA:",
                   "PODSUMOWANIE:", "NIEDOPASOWANE KLUCZE (pierwsze 50):"]:
        assert any(marker in ln for ln in lines), marker
    idx = {m: next(i for i, ln in enumerate(lines) if m in ln)
           for m in ["ŹRÓDŁA DANYCH:", "WYKONANE MAPOWANIA:", "PODSUMOWANIE:"]}
    assert idx["ŹRÓDŁA DANYCH:"] < idx["WYKONANE MAPOWANIA:"] < idx["PODSUMOWANIE:"]
    # per-source match rate
    assert any("Dopasowano: 3 / 4 (75.0%)" in ln for ln in lines)
    # summary numbers
    assert any("Wierszy przetworzonych: 4" in ln for ln in lines)
    assert any("Wierszy ze zmianami: 2 (50.0%)" in ln for ln in lines)
    assert any("Komórek zmodyfikowanych: 3" in ln for ln in lines)
    assert any("Wierszy bez dopasowania: 1 (25.0%)" in ln for ln in lines)
    assert any("  C" == ln or "C" == ln.strip() for ln in lines)
    # deterministic with injected timestamp
    text2 = generate_summary(
        stats, "baza.xlsx", "ean", sources_info, mappings_info,
        timestamp=dt.datetime(2026, 8, 16, 12, 0, 0),
    )
    assert text == text2

    # save_report writes the same artifact
    out = tmp_path / "raport.txt"
    save_report(out, stats, "baza.xlsx", "ean", sources_info, mappings_info,
                timestamp=dt.datetime(2026, 8, 16, 12, 0, 0))
    assert out.read_text(encoding="utf-8") == text

    # unmatched CSV export
    csv_dir = tmp_path / "unmatched_csv"
    export_unmatched(merged, "ean", csv_dir)
    import glob

    files = glob.glob(str(csv_dir / "*.csv"))
    body = "".join(open(f).read() for f in files)
    assert "klucz_bazowy" in body and "C" in body


def test_execute_profile_mid_job_resume(spark, tmp_path):
    """Reference utils/session.py:17-98 persists the processing position;
    the distributed twin is per-source commit markers: a relaunch with
    the same work_dir resumes AFTER the last committed source — the base
    and already-folded sources are never reloaded or refolded."""
    from datamatcher_spark.operators.merge import ColumnMapping, WriteMode
    from datamatcher_spark.plans.profiles import (
        Profile,
        SourceSpec,
        execute_profile,
    )

    frames = {
        "base": spark.createDataFrame(
            [("1", "t-old", ""), ("2", "", "")],
            "ean string, title string, brand string",
        ),
        "s1": spark.createDataFrame([("1", "T1")], "ean string, tytul string"),
        "s2": spark.createDataFrame([("2", "B2")], "ean string, marka string"),
    }
    loads: list[str] = []

    def load(p):
        loads.append(p)
        return frames[p]

    prof = Profile(
        name="resume",
        base=SourceSpec("base", "base", "ean"),
        sources=[SourceSpec("s1", "s1", "ean"), SourceSpec("s2", "s2", "ean")],
        mappings=[
            ColumnMapping(source_column="tytul", target_column="title",
                          write_mode=WriteMode.OVERWRITE, source_id="s1"),
            ColumnMapping(source_column="marka", target_column="brand",
                          write_mode=WriteMode.FILL_EMPTY, source_id="s2"),
        ],
    )
    wd = tmp_path / "enrich_work"
    out1, si1, mi1 = execute_profile(spark, prof, load=load, work_dir=wd)
    full = {(r.ean, r.title, r.brand) for r in out1.collect()}
    assert loads == ["base", "s1", "s2"]

    # crash-after-source-1 simulation: wipe source-2's commit marker only
    (wd / "commits" / "source_1.json").unlink()
    loads.clear()
    out2, si2, mi2 = execute_profile(spark, prof, load=load, work_dir=wd)
    assert loads == ["s2"], "resume must not reload base or source 1"
    assert {(r.ean, r.title, r.brand) for r in out2.collect()} == full
    assert [s["filename"] for s in si2] == [s["filename"] for s in si1]
    assert mi2 == mi1

    # full-skip relaunch: every source committed → nothing reloaded
    loads.clear()
    out3, si3, mi3 = execute_profile(spark, prof, load=load, work_dir=wd)
    assert loads == []
    assert {(r.ean, r.title, r.brand) for r in out3.collect()} == full
    assert si3 == si2 and mi3 == mi2


def test_execute_profile_torn_marker_relaunch(spark, tmp_path, monkeypatch):
    """A crash halfway through writing a source's commit marker must not
    leave a marker behind: the relaunch refolds that source (and only
    it) and returns a clean run's result."""
    from pathlib import Path

    from datamatcher_spark.operators.merge import ColumnMapping, WriteMode
    from datamatcher_spark.plans.profiles import (
        Profile,
        SourceSpec,
        execute_profile,
    )

    frames = {
        "base": spark.createDataFrame(
            [("1", "t-old", ""), ("2", "", "")],
            "ean string, title string, brand string",
        ),
        "s1": spark.createDataFrame([("1", "T1")], "ean string, tytul string"),
        "s2": spark.createDataFrame([("2", "B2")], "ean string, marka string"),
    }
    loads: list[str] = []

    def load(p):
        loads.append(p)
        return frames[p]

    prof = Profile(
        name="torn",
        base=SourceSpec("base", "base", "ean"),
        sources=[SourceSpec("s1", "s1", "ean"), SourceSpec("s2", "s2", "ean")],
        mappings=[
            ColumnMapping(source_column="tytul", target_column="title",
                          write_mode=WriteMode.OVERWRITE, source_id="s1"),
            ColumnMapping(source_column="marka", target_column="brand",
                          write_mode=WriteMode.FILL_EMPTY, source_id="s2"),
        ],
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    clean, clean_si, clean_mi = execute_profile(
        spark, prof, load=load, work_dir=tmp_path / "clean")
    want = rows(clean)

    write_text = Path.write_text

    def torn(self, data, *a, **kw):
        """Source 1's marker write dies halfway through its bytes."""
        if self.parent.name == "commits" and self.name.startswith("source_1"):
            write_text(self, data[: len(data) // 2], *a, **kw)
            raise OSError("disk full")
        return write_text(self, data, *a, **kw)

    wd = tmp_path / "torn"
    monkeypatch.setattr(Path, "write_text", torn)
    with pytest.raises(OSError, match="disk full"):
        execute_profile(spark, prof, load=load, work_dir=wd)
    monkeypatch.undo()

    loads.clear()
    out, si, mi = execute_profile(spark, prof, load=load, work_dir=wd)
    assert loads == ["s2"], "the relaunch must refold source 1 only"
    assert rows(out) == want
    assert (si, mi) == (clean_si, clean_mi)
