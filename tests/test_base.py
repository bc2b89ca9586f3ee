"""Selector name parsing round-trips (reference kukur/base.py:106-142)."""

from kukur_spark.base import SERIES_NAME_TAG, SeriesSelector


def test_bare_name_becomes_series_name_tag():
    selector = SeriesSelector.from_name("src", "test-tag-1")
    assert selector.tags == {SERIES_NAME_TAG: "test-tag-1"}
    assert selector.field == "value"
    assert selector.name == "test-tag-1"


def test_tagged_name_with_field():
    selector = SeriesSelector.from_name("src", "location=Antwerp,plant=P1::product")
    assert selector.tags == {"location": "Antwerp", "plant": "P1"}
    assert selector.field == "product"
    assert selector.name == "location=Antwerp,plant=P1::product"


def test_bare_name_with_field():
    selector = SeriesSelector.from_name("src", "test-tag-1::temperature")
    assert selector.tags == {SERIES_NAME_TAG: "test-tag-1"}
    assert selector.field == "temperature"
    assert selector.name == "test-tag-1::temperature"


def test_default_field_omitted_from_name():
    selector = SeriesSelector.from_tags("src", {"a": "1", "b": "2"})
    assert selector.name == "a=1,b=2"


def test_selector_hashable():
    a = SeriesSelector.from_name("src", "x=1::f")
    b = SeriesSelector.from_name("src", "x=1::f")
    assert a == b
    assert hash(a) == hash(b)


# reference tests/test_selector.py assertion-group sweep (r8): the full
# canonical-name contract, including the two cases the original port
# got wrong — `series name` printing FIRST and bare among other tags,
# and from_name stripping whitespace / accepting the mixed bare+tagged
# form.
def test_series_name_prints_first_among_tags():
    selector = SeriesSelector(
        "source", {"tag-a": "a", "tag-b": "b", "series name": "c"}, "field"
    )
    assert selector.name == "c,tag-a=a,tag-b=b::field"
    assert selector == SeriesSelector.from_name("source", selector.name)


def test_from_name_strips_whitespace():
    selector = SeriesSelector(
        "source", {"tag-a": "a", "tag-b": "b", "series name": "c"}, "field"
    )
    assert selector == SeriesSelector.from_name(
        "source", " c,tag-a=a,tag-b=b::field "
    )


def test_mixed_bare_and_tagged_components():
    selector = SeriesSelector.from_name("source", "c,tag-a=a")
    assert selector.tags == {"series name": "c", "tag-a": "a"}
    assert selector.field == "value"
    assert selector.name == "c,tag-a=a"


def test_all_reference_selector_names_round_trip():
    from kukur_spark.base import SeriesSelector as S

    for tags, field, want in [
        ({"series name": "a"}, "field", "a::field"),
        ({"series name": "a"}, "value", "a"),
        ({"tag-a": "a"}, "field", "tag-a=a::field"),
        ({"tag-a": "a"}, "value", "tag-a=a"),
        ({"tag-a": "a", "tag-b": "b"}, "field", "tag-a=a,tag-b=b::field"),
    ]:
        selector = S("source", tags, field)
        assert selector.name == want
        assert selector == S.from_name("source", selector.name)


def test_config_merge_matches_reference_assertions():
    """Reference tests/test_config.py assertion-group sweep: scalar
    override, list extend, recursive dict update (incl. dict-of-dict)."""
    from kukur_spark.config import _merge

    cases = [
        ({}, {"k": "v"}, {"k": "v"}),
        ({"k": "old"}, {"k": "v"}, {"k": "v"}),
        ({}, {"list": [1]}, {"list": [1]}),
        ({"list": [1]}, {"list": [2]}, {"list": [1, 2]}),
        ({}, {"dict": {"k": "v"}}, {"dict": {"k": "v"}}),
        (
            {"dict": {"a": "1"}},
            {"dict": {"b": "2"}},
            {"dict": {"a": "1", "b": "2"}},
        ),
        (
            {"source": {"name": {"query": "q"}}},
            {"source": {"name": {"connection": {"username": "user"}}}},
            {
                "source": {
                    "name": {
                        "connection": {"username": "user"},
                        "query": "q",
                    }
                }
            },
        ),
    ]
    for base, fragment, want in cases:
        _merge(base, fragment)
        assert base == want


def _load_script(name):
    """Import a repo-root script (bench.py, scripts/*.py) as a module."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        name.rsplit("/", 1)[-1].replace(".py", ""),
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            *name.split("/"),
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_cpu_calibration_anchor():
    """The calibration loop is deterministic work: repeated runs on the
    same box agree within scheduler noise, and the value is a positive
    sub-minute float (VERDICT r8 #2 — the anchor BENCH normalization
    hangs off)."""
    mod = _load_script("bench.py")
    a = mod.cpu_calibration()
    b = mod.cpu_calibration()
    assert 0.01 < a < 60 and 0.01 < b < 60
    assert abs(a - b) / max(a, b) < 0.5  # same box, same work
