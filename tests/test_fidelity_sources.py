"""Edge-semantics tests for the byte-parity regex scans (SURVEY.md §5.2.3).

Each case encodes a *measured* reference behavior from FIXTURES.md §5.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from caliper_poc_data_etl_spark.sources.fidelity import (
    read_assessments_fidelity,
    read_items_fidelity,
)

HEADER_ITEMS = "identity_id,login_identity_id,school_id,assessment_id,assessment_version,attempt_id,assmtitem_id,assmtitem_version,assessment_type_id,response_type,question_time,score_posible,score_earned,masterobjectives,masterobjectivesid,objectivenumber"
FIXTURES = Path(__file__).parent / "fixtures"
ROW_OK = "stu-1,login-1,sch-9,asmt-01,1.0,att-100,item-02,1,5,TRUEFALSE,12,5,3,Algebra Basics,101,1.2"


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


class TestItemsFidelityScan:
    def test_multi_lo_row_dropped(self, spark, tmp_path):
        """F2: ';' cannot pass group 15 `[0-9.]*` → row dropped."""
        path = _write(
            tmp_path,
            "i.csv",
            [HEADER_ITEMS, ROW_OK.replace(",101,", ",101;102,")],
        )
        assert read_items_fidelity(spark, path).count() == 0

    def test_short_row_dropped(self, spark, tmp_path):
        """S6: fewer fields than the pattern needs → silent drop."""
        path = _write(tmp_path, "i.csv", [HEADER_ITEMS, "a,b,c,d,e"])
        assert read_items_fidelity(spark, path).count() == 0

    def test_stale_bundled_sample_yields_zero(self, spark):
        """F1/§3.3: a 10-col sample shaped like the reference's → zero rows."""
        assert read_items_fidelity(spark, str(FIXTURES / "assessmentitems.csv")).count() == 0

    def test_greedy_col14_absorbs_commas(self, spark, tmp_path):
        """S4: unquoted comma in free-text col 14 absorbed by `(.*)`."""
        row = ROW_OK.replace("Algebra Basics", "Algebra, and Geometry")
        path = _write(tmp_path, "i.csv", [HEADER_ITEMS, row])
        got = read_items_fidelity(spark, path).collect()
        assert len(got) == 1
        assert got[0]["masterobjectives"] == "Algebra, and Geometry"
        assert got[0]["masterobjectivesid"] == "101"

    def test_extra_trailing_column_misaligns(self, spark, tmp_path):
        """S4: 17 fields → col 14 absorbs cols 14-15 (measured parity)."""
        row = ROW_OK + ",9.9"  # appends a 17th numeric field
        path = _write(tmp_path, "i.csv", [HEADER_ITEMS, row])
        got = read_items_fidelity(spark, path).collect()[0]
        assert got["masterobjectives"] == "Algebra Basics,101"
        assert got["masterobjectivesid"] == "1.2"
        assert got["objectivenumber"] == "9.9"

    def test_empty_fields_allowed_cols_1_13(self, spark, tmp_path):
        row = ",login-1,sch-9,asmt-01,1.0,att-100,item-02,1,5,TRUEFALSE,12,5,3,x,101,1.2"
        path = _write(tmp_path, "i.csv", [HEADER_ITEMS, row])
        got = read_items_fidelity(spark, path).collect()
        assert len(got) == 1
        assert got[0]["identity_id"] == ""


HEADER_ASSESS = "identity_id,login_identity_id,school_id,assessment_id,assessment_version,date_submitted,assessment_type_id,assessment_type,attempt_id,attemptnumber,is_mastered,score_earned,score_posible"
ROW_ASSESS = "stu-1,login-1,sch-9,asmt-01,1.0,2016-01-15,5,QUIZ,att-100,1,true,70,100"


class TestAssessmentsFidelityScan:
    def test_header_skipped(self, spark, tmp_path):
        """Header matches (.+)×13 — must be dropped by position, not regex."""
        path = _write(tmp_path, "a.csv", [HEADER_ASSESS, ROW_ASSESS])
        got = read_assessments_fidelity(spark, path).collect()
        assert len(got) == 1
        assert got[0]["identity_id"] == "stu-1"

    def test_empty_field_drops_row(self, spark, tmp_path):
        path = _write(
            tmp_path, "a.csv", [HEADER_ASSESS, ROW_ASSESS.replace("sch-9", "")]
        )
        assert read_assessments_fidelity(spark, path).count() == 0

    def test_extra_leading_width_misaligns(self, spark, tmp_path):
        """S5: 14 fields → group 1 greedily absorbs the extra field."""
        path = _write(tmp_path, "a.csv", [HEADER_ASSESS, "extra," + ROW_ASSESS])
        got = read_assessments_fidelity(spark, path).collect()[0]
        assert got["identity_id"] == "extra,stu-1"

    def test_stale_bundled_sample_yields_zero(self, spark):
        """F1: 8-col sample → zero rows survive the 13-group regex."""
        assert read_assessments_fidelity(spark, str(FIXTURES / "assessments.csv")).count() == 0
