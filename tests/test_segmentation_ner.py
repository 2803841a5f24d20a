"""Multi-table grid segmentation (S2/S3 analogue) and the deterministic
NER typing slot (F10)."""

import pytest

from table_annotation_spark.functions.ner import (
    load_spacy_ner,
    make_lexicon_ner,
    rule_ner,
)
from table_annotation_spark.functions.typing_fns import type_cell
from table_annotation_spark.sources.embedded_tables import (
    parse_content_to_grids,
    segment_grids,
)


class TestSegmentation:
    def test_single_table_unchanged(self):
        grids = parse_content_to_grids("t.csv", "csv", "a,b\n1,2\n3,4\n")
        assert grids == [[["a", "b"], ["1", "2"], ["3", "4"]]]

    def test_blank_line_splits_two_tables(self):
        content = "a,b\n1,2\n\nx,y\n3,4\n5,6\n"
        grids = parse_content_to_grids("t.csv", "csv", content)
        assert len(grids) == 2
        assert grids[0] == [["a", "b"], ["1", "2"]]
        assert grids[1] == [["x", "y"], ["3", "4"], ["5", "6"]]

    def test_title_line_segment_is_dropped(self):
        # a lone title line above a blank line is not a table (reference
        # file_loader gate: ≥2 rows, ≥2 cols per segment)
        content = "Report 2024\n\na,b\n1,2\n"
        grids = parse_content_to_grids("t.csv", "csv", content)
        assert grids == [[["a", "b"], ["1", "2"]]]

    def test_blank_column_splits_side_by_side(self):
        rows = [
            ["a", "b", "", "x", "y"],
            ["1", "2", "", "3", "4"],
        ]
        grids = segment_grids(rows)
        assert grids == [
            [["a", "b"], ["1", "2"]],
            [["x", "y"], ["3", "4"]],
        ]

    def test_stray_empty_column_inside_single_table_kept(self):
        # an empty column that does NOT yield two table-ish blocks is left
        # for preprocessing's null-column drop (P4)
        rows = [
            ["a", "", "b"],
            ["1", "", ""],  # right block ["b"],[""] has <2 rows of ≥2 cols
        ]
        # right block is [["b"], [""]] → 1 col → not a table → no split
        grids = segment_grids(rows)
        assert grids == [rows]

    def test_trailing_newlines_no_phantom_segment(self):
        grids = parse_content_to_grids("t.csv", "csv", "a,b\n1,2\n\n\n")
        assert len(grids) == 1


class TestNER:
    def test_rule_honorific_person(self):
        assert rule_ner("Dr. Ada Lovelace") == "PERSON"
        assert rule_ner("Mrs Thatcher") == "PERSON"

    def test_rule_org_suffix(self):
        assert rule_ner("Acme Corp") == "ORG"
        assert rule_ner("Wayne Enterprises Inc") == "ORG"

    def test_rule_no_match(self):
        assert rule_ner("hello world") is None
        assert rule_ner("Dr.") is None  # honorific alone is not a person

    def test_lexicon_hit_beats_rules(self):
        ner = make_lexicon_ner({"france": "GPE", "dr. who": "WORK_OF_ART"})
        assert ner("France") == "GPE"
        assert ner("FRANCE ") == "GPE"
        assert ner("Dr. Who") == "WORK_OF_ART"  # lexicon wins over honorific
        assert ner("Dr. Jones") == "PERSON"     # falls through to rules

    def test_cascade_order_regex_first(self):
        # regex typing decides BEFORE the NER slot is consulted
        ner = make_lexicon_ner({"1996": "GPE"})
        assert type_cell("1996", ner=ner) == "DATE"
        assert type_cell("12.5", ner=ner) == "CARDINAL"

    def test_cascade_ner_fills_unknown(self):
        ner = make_lexicon_ner({"algeria": "GPE"})
        assert type_cell("ALGERIA", ner=ner) == "GPE"
        assert type_cell("ALGERIA") == "UNKNOWN"  # without the slot
        assert type_cell("zzz unknowable") == "UNKNOWN"

    def test_missing_spacy_model_is_none(self):
        # spaCy absent (ImportError) or the model not installed (OSError):
        # the slot reports "no NER" instead of raising
        assert load_spacy_ner("no_such_model") is None

    @pytest.mark.skipif(
        load_spacy_ner() is None,
        reason="spaCy model not available in this container",
    )
    def test_spacy_plug_when_available(self):  # pragma: no cover
        ner = load_spacy_ner()
        assert ner("Barack Obama") == "PERSON"
