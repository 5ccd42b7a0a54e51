"""Property test: the conversion NEVER escapes the quarantine contract.

convert_doc_safe must return ("ok" | "quarantined", spans, error) for
ARBITRARY JSON-shaped input — any uncaught exception here would kill a
Spark task (and the job after retries) at corpus scale. Hypothesis
drives deeply malformed Blocks structures at the same code paths the
reference crashes on.
"""

import gc

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from t2p_spark.convert import convert_doc_safe
from t2p_spark.kernel import _fingerprint
from tests.conftest import needs_reference

json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(-10, 10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
)

block_like = st.fixed_dictionaries(
    {},
    optional={
        "Id": st.one_of(json_scalars, st.text(max_size=6)),
        "BlockType": st.sampled_from([
            "PAGE", "LINE", "WORD", "TABLE", "CELL", "MERGED_CELL",
            "SELECTION_ELEMENT", "KEY_VALUE_SET", "LAYOUT_TEXT",
            "LAYOUT_TABLE", "LAYOUT_FIGURE", "LAYOUT_LIST", "JUNK", "",
        ]),
        "Confidence": json_scalars,
        "Text": json_scalars,
        "TextType": json_scalars,
        "EntityTypes": st.one_of(
            json_scalars, st.lists(st.sampled_from(
                ["KEY", "VALUE", "COLUMN_HEADER", "JUNK"]), max_size=3)),
        "RowIndex": json_scalars,
        "ColumnIndex": json_scalars,
        "RowSpan": json_scalars,
        "ColumnSpan": json_scalars,
        "SelectionStatus": json_scalars,
        "Geometry": st.one_of(
            json_scalars,
            st.fixed_dictionaries({}, optional={
                "BoundingBox": st.one_of(
                    json_scalars,
                    st.dictionaries(
                        st.sampled_from(
                            ["Left", "Top", "Width", "Height", "X"]),
                        json_scalars, max_size=5)),
                "Polygon": st.one_of(
                    json_scalars,
                    st.lists(st.one_of(
                        json_scalars,
                        st.dictionaries(st.sampled_from(["X", "Y"]),
                                        json_scalars, max_size=2)),
                        max_size=5)),
            })),
        "Relationships": st.one_of(
            json_scalars,
            st.lists(st.one_of(
                json_scalars,
                st.fixed_dictionaries({}, optional={
                    "Type": st.sampled_from(
                        ["CHILD", "VALUE", "MERGED_CELL", "JUNK"]),
                    "Ids": st.one_of(
                        json_scalars,
                        st.lists(st.text(max_size=6), max_size=3)),
                })), max_size=3)),
    },
)

doc_like = st.fixed_dictionaries(
    {},
    optional={
        "Blocks": st.one_of(json_scalars, st.lists(block_like, max_size=8)),
        "DocumentMetadata": json_scalars,
    },
)


@pytest.fixture(scope="module", params=[
    pytest.param("reference", marks=needs_reference), "generated"])
def base_doc(request):
    """The smallest valid document (fewest blocks) of the reference
    fixtures, or of a few generated docs (offline)."""
    if request.param == "reference":
        from tests.conftest import FIXTURE_IDS, load_textract_json

        docs = [load_textract_json(d) for d in FIXTURE_IDS]
    else:
        from t2p_spark.synth import generate_doc

        docs = [generate_doc(f"gen-{i}", i)[0] for i in range(8)]
    return min(docs, key=lambda doc: len(doc["Blocks"]))


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_corrupted_real_doc_never_raises(base_doc, data):
    """Mutate random fields of a VALID document — exercises the
    deep conversion paths (linking, ordering, emission) with realistic
    structure around each corruption, not just shallow bucketing."""
    import copy

    doc = copy.deepcopy(base_doc)
    blocks = doc["Blocks"]
    n_mut = data.draw(st.integers(1, 4))
    for _ in range(n_mut):
        b = blocks[data.draw(st.integers(0, len(blocks) - 1))]
        if not b:  # earlier "del" mutations emptied this block
            continue
        key = data.draw(st.sampled_from(sorted(b.keys())))
        action = data.draw(st.sampled_from(["del", "none", "scalar", "swap"]))
        if action == "del":
            del b[key]
        elif action == "none":
            b[key] = None
        elif action == "scalar":
            b[key] = data.draw(json_scalars)
        else:  # swap ids across blocks — dangling/cyclic references
            other = blocks[data.draw(st.integers(0, len(blocks) - 1))]
            if key in other:
                b[key], other[key] = other[key], b[key]
    # crash paths too free all they allocate by refcount: no cycles
    gc.collect()
    gc.disable()
    try:
        status, spans, error = convert_doc_safe(doc, 2135, 3240, "m.jpg")
        assert gc.collect() == 0
    finally:
        gc.enable()
    assert status in ("ok", "quarantined")
    if status == "ok":
        _fingerprint("doc", [tuple(s) for s in spans])
    else:
        assert spans == [] and error


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(doc=doc_like)
def test_convert_doc_safe_never_raises(doc):
    status, spans, error = convert_doc_safe(doc, 100, 100, "m.jpg")
    assert status in ("ok", "quarantined")
    if status == "ok":
        # every emitted span is well-formed and fingerprintable
        for k, t, m, o in spans:
            assert isinstance(k, str) and isinstance(t, str)
            assert isinstance(m, str) and isinstance(o, int)
        _fingerprint("doc", spans)
    else:
        assert spans == [] and error


def test_typeless_relationship_crash_parity(base_doc):
    """convert_aws.py:622-630: once any CHILD relationship exists, the
    reference evaluates rel["Type"] on EVERY relationship — a Type-less
    entry raises KeyError, so the doc must quarantine (r2 ADVICE: an
    early-return-at-first-CHILD silently converted such docs)."""
    import copy

    import pytest

    from t2p_spark.convert import get_child_ids

    block = {"Relationships": [
        {"Type": "CHILD", "Ids": ["a"]},
        {"Ids": ["b"]},  # missing "Type"
    ]}
    with pytest.raises(KeyError):
        get_child_ids(block)
    # without any CHILD the probe scan uses .get and cannot raise
    assert get_child_ids({"Relationships": [{"Ids": ["b"]}]}) == []
    # and explicit "Ids": null propagates None (caller crashes, like the
    # reference's rel.get("Ids", []) comprehension)
    assert get_child_ids(
        {"Relationships": [{"Type": "CHILD", "Ids": None}]}) is None
    # explicit "Relationships": null — reference's .get(.., []) returns
    # None and any() over it raises TypeError (r3 ADVICE: an `or []`
    # coercion here silently converted such docs)
    with pytest.raises(TypeError):
        get_child_ids({"Relationships": None})

    # end-to-end: such a doc quarantines instead of converting (LINE —
    # PAGE children are never fetched through this accessor, there or here)
    doc = copy.deepcopy(base_doc)
    for b in doc["Blocks"]:
        if b.get("BlockType") == "LINE" and b.get("Relationships"):
            b["Relationships"].append({"Ids": ["dangling"]})
            break
    status, spans, error = convert_doc_safe(doc, 2135, 3240, "m.jpg")
    assert status == "quarantined" and "KeyError" in error


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(doc=doc_like)
def test_split_doc_never_raises(doc):
    """The multi-page splitter obeys the same quarantine contract as the
    converter: for ARBITRARY JSON-shaped payloads it returns page rows or
    a quarantine row, never an exception (an escape would kill a Spark
    task at corpus scale)."""
    import json

    import pyarrow as pa

    from t2p_spark.ingest import split_kernel

    batch = pa.RecordBatch.from_pydict({
        "doc_id": ["d"], "width": pa.array([100], pa.int32()),
        "height": pa.array([100], pa.int32()), "media_ref": ["m.jpg"],
        "json_text": [json.dumps(doc)]})
    rows = [r for out in split_kernel(1 << 20)(iter([batch]))
            for r in out.to_pylist()]
    assert rows, "must emit at least one row"
    for row in rows:
        spans, status, error = row["spans"], row["status"], row["error"]
        assert status in ("ok", "quarantined")
        if status == "ok":
            assert spans[0]["kind"] == "media"
            assert all(isinstance(s["text"], str) for s in spans)
        else:
            assert spans == [] and error
