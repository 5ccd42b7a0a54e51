"""Offline converter oracle: the branch corpus plus the 120 synth docs.

Without the reference checkout, the committed goldens are what guards
convert.py. ``convert_golden.json`` pins status, full error text, span md5 and
render md5 for the hand-built branch corpus (tests/branch_corpus.py) and
the 120-doc synth corpus — regenerate it with
``python tools/make_synth_golden.py`` only for an intended output change.
"""

import gc
import importlib.util
import inspect
import itertools
import json
import os
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def golden_tool():
    spec = importlib.util.spec_from_file_location(
        "make_synth_golden", os.path.join(REPO, "tools", "make_synth_golden.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def synth_rows(golden_tool):
    return golden_tool.synth_rows()


def test_convert_golden(golden_tool, synth_rows):
    with open(golden_tool.CONVERT_PATH, encoding="utf-8") as f:
        golden = json.load(f)
    assert golden_tool.convert_records(synth_rows) == golden


def _function_lines(path):
    """Executable lines of every function body in the module at ``path``
    (the ``def`` line itself excluded)."""
    def walk(code):
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                if const.co_flags & inspect.CO_OPTIMIZED:  # not a class body
                    yield const
                yield from walk(const)

    with open(path, encoding="utf-8") as f:
        module = compile(f.read(), path, "exec")
    return {line for code in walk(module) for _, _, line in code.co_lines()
            if line is not None and line != code.co_firstlineno}


def test_every_convert_line_reached(golden_tool, synth_rows):
    """The two corpora reach every line of convert.py's function bodies,
    so the golden above guards all of them. A line no input can reach is
    deleted, not exempted (``coverage`` is not a dependency, hence the
    line tracer)."""
    from t2p_spark import convert

    path = convert.__file__
    hit = set()

    def local(frame, event, arg):
        if event == "line":
            hit.add(frame.f_lineno)
        return local

    def tracer(frame, event, arg):
        return local if frame.f_code.co_filename == path else None

    inputs = list(golden_tool.convert_inputs(synth_rows))
    previous = sys.gettrace()
    sys.settrace(tracer)
    try:
        for _, aws, w, h, ref in inputs:
            convert.convert_doc_safe(aws, w, h, ref)
    finally:
        sys.settrace(previous)
    with open(path, encoding="utf-8") as f:
        src = f.read().splitlines()
    missed = sorted(_function_lines(path) - hit)
    assert not missed, "\n".join(f"{n}: {src[n - 1]}" for n in missed)


def _kernel_batch(rows):
    """An assembled kernel input batch of ``(doc_id, width, height,
    media_ref, json_text)`` rows."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows]),
         pa.array([r[1] for r in rows], pa.int32()),
         pa.array([r[2] for r in rows], pa.int32()),
         pa.array([r[3] for r in rows]),
         pa.array([r[4] for r in rows])],
        names=["doc_id", "width", "height", "media_ref", "json_text"])


def test_kernel_equals_adapter(golden_tool, synth_rows, monkeypatch):
    """The Arrow kernel and ``convert_doc_safe`` agree row for row over
    the convert corpus, a 2000-line skew doc and three decode quarantines,
    as one batch and as batches of 7: status, full error text, spans and
    n_blocks, and span_fp is ``_fingerprint`` of the adapter's spans.
    Run again with every doc on the bulk path, which otherwise takes only
    docs of ``_BULK_MIN_SPANS`` or more spans."""
    from t2p_spark import kernel
    from t2p_spark.convert import convert_doc_safe
    from t2p_spark.synth import generate_skew_doc

    docs = list(golden_tool.convert_inputs(synth_rows))
    aws, w, h, ref = generate_skew_doc("skew", 3, n_lines=2000)
    docs.append(("skew", aws, w, h, ref))
    rows, want = [], []
    for doc_id, aws, w, h, ref in docs:
        rows.append((doc_id, w, h, ref, json.dumps(aws)))
        status, spans, error = convert_doc_safe(aws, w, h, ref)
        blocks = aws.get("Blocks")
        n_blocks = len(blocks) if isinstance(blocks, list) else 0
        want.append((status, error, spans, n_blocks))
    decode_rows = [("bad_json", 10, 10, "", "{not json"),
                   ("json_array", 10, 10, "", "[1, 2]"),
                   ("no_dims", None, 10, "", "{}")]
    for row in decode_rows:
        reason = next(kernel.decode_payloads(_kernel_batch([row])))[-1]
        assert reason
        rows.append(row)
        want.append(("quarantined", reason, [], 0))

    for bulk_min, size in itertools.product((kernel._BULK_MIN_SPANS, 0),
                                            (len(rows), 7)):
        monkeypatch.setattr(kernel, "_BULK_MIN_SPANS", bulk_min)
        got = []
        for i in range(0, len(rows), size):
            got += kernel._convert_batch(
                _kernel_batch(rows[i:i + size])).to_pylist()
        assert len(got) == len(rows)
        for row, rec, (status, error, spans, n_blocks) in zip(rows, got, want):
            assert rec["doc_id"] == row[0]
            assert (rec["status"], rec["error"], rec["n_blocks"]) == \
                (status, error, n_blocks), row[0]
            assert [tuple(s.values()) for s in rec["spans"]] == spans, row[0]
            assert rec["n_spans"] == len(spans)
            assert rec["span_fp"] == kernel._fingerprint(row[0], spans)


def test_model_leaves_no_reference_cycles(golden_tool, synth_rows):
    """The converter model is a tree and the renderer keeps no recursive
    closures, so refcounting frees everything a document allocates: with
    the cycle collector off, converting and rendering every corpus doc (ok
    and quarantined), a many-block skew doc, and one kernel batch of them
    all leaves nothing for gc.collect()."""
    import pyarrow as pa

    from t2p_spark.convert import convert_doc_safe
    from t2p_spark.kernel import _convert_batch
    from t2p_spark.render_xml import render_page_xml
    from t2p_spark.synth import generate_skew_doc

    docs = list(golden_tool.convert_inputs(synth_rows))
    aws, w, h, ref = generate_skew_doc("skew", 3, n_lines=2000)
    docs.append(("skew", aws, w, h, ref))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([d[0] for d in docs]),
         pa.array([d[2] for d in docs], pa.int32()),
         pa.array([d[3] for d in docs], pa.int32()),
         pa.array([d[4] for d in docs]),
         pa.array([json.dumps(d[1]) for d in docs])],
        names=["doc_id", "width", "height", "media_ref", "json_text"])
    statuses = set()
    gc.collect()
    gc.disable()
    try:
        for _, aws, w, h, ref in docs:
            statuses.add(convert_doc_safe(aws, w, h, ref)[0])
            try:
                render_page_xml(aws, w, h, ref)
            except Exception:  # noqa: BLE001 — the quarantined docs raise
                pass
        assert gc.collect() == 0
        out = _convert_batch(batch)
        assert gc.collect() == 0
    finally:
        gc.enable()
    assert statuses == {"ok", "quarantined"}
    assert out.num_rows == len(docs)
