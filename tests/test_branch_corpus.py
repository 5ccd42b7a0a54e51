"""Offline converter oracle: the branch corpus plus the 120 synth docs.

Without the reference checkout, the committed goldens are what guards
convert.py. ``convert_golden.json`` pins status, error class, span md5 and
render md5 for the hand-built branch corpus (tests/branch_corpus.py) and
the 120-doc synth corpus — regenerate it with
``python tools/make_synth_golden.py`` only for an intended output change.
"""

import gc
import importlib.util
import inspect
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
