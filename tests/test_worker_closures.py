"""Worker-closure self-containment guards (VERDICT r8 #3).

Every mapInPandas / pandas_udf closure in the package must be pickled
fully BY VALUE: a `purescript_ifrit_spark` import inside a nested
function runs on the EXECUTOR and silently reintroduces the
package-must-be-installed-worker-side requirement that the
`_make_*_decoder` factory pattern exists to avoid. Top-level function
bodies (depth 1) are driver-side and may import freely.

The r8 residual was exactly this: extract_video_stats and scene_changes
imported `decode_ppm_stream`, and audio_activity_stats imported
`decode_wav`, inside their worker `gen` closures. This test makes the
whole class of regression a hard failure.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "purescript_ifrit_spark"


def _nested_package_imports(path: Path) -> list:
    offenders = []
    tree = ast.parse(path.read_text())

    class V(ast.NodeVisitor):
        def __init__(self):
            self.depth = 0

        def _func(self, node):
            self.depth += 1
            self.generic_visit(node)
            self.depth -= 1

        visit_FunctionDef = _func
        visit_AsyncFunctionDef = _func
        visit_Lambda = _func

        def visit_ImportFrom(self, node):
            if self.depth >= 2 and (node.module or "").startswith(
                "purescript_ifrit_spark"
            ):
                offenders.append((str(path), node.lineno))

        def visit_Import(self, node):
            if self.depth >= 2 and any(
                a.name.startswith("purescript_ifrit_spark") for a in node.names
            ):
                offenders.append((str(path), node.lineno))

    V().visit(tree)
    return offenders


def test_no_package_imports_inside_nested_closures():
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        offenders.extend(_nested_package_imports(p))
    assert offenders == [], (
        "package imports inside nested (worker-side) closures — use a "
        f"by-value _make_* factory instead: {offenders}"
    )


def test_by_value_stream_and_wav_decoders_match_module_level():
    """The factory twins must agree byte-for-byte with the module-level
    decoders they replace, on both the valid and the poison paths."""
    import numpy as np

    from purescript_ifrit_spark.operators.multimodal import (
        _make_ppm_decoder,
        _make_ppm_stream_decoder,
        _make_wav_decoder,
        decode_ppm,
        decode_ppm_stream,
        decode_wav,
    )

    def ppm(w, h, seed):
        raster = bytes(
            (seed + 7 * i) % 256 for i in range(w * h * 3)
        )
        return b"P6 %d %d 255\n" % (w, h) + raster

    stream = ppm(4, 3, 1) + ppm(2, 2, 9) + ppm(4, 3, 77)
    ref = decode_ppm_stream(stream)
    got = _make_ppm_stream_decoder()(stream)
    assert len(ref) == len(got) == 3
    for a, b in zip(ref, got):
        assert np.array_equal(a, b)
    assert np.array_equal(decode_ppm(ppm(5, 2, 3)), _make_ppm_decoder()(ppm(5, 2, 3)))
    # empty stream = zero frames on both
    assert decode_ppm_stream(b"") == [] == _make_ppm_stream_decoder()(b"")
    # trailing garbage raises on both
    for fn in (decode_ppm_stream, _make_ppm_stream_decoder()):
        try:
            fn(stream + b"xx")
            raise AssertionError("trailing garbage must raise")
        except ValueError:
            pass

    import struct

    data = struct.pack("<8h", 5, -5, 0, 100, -100, 32767, -32768, 1)
    wav = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 16000, 64000, 4, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    r_rate, r_ch, r_s = decode_wav(wav)
    g_rate, g_ch, g_s = _make_wav_decoder()(wav)
    assert (r_rate, r_ch) == (g_rate, g_ch) == (16000, 2)
    assert np.array_equal(r_s, g_s)
    for bad in (None, b"RIFFxxxx", wav[:20], wav.replace(b"data", b"datx")):
        for fn in (decode_wav, _make_wav_decoder()):
            try:
                fn(bad)
                raise AssertionError(f"poison wav must raise: {bad!r:.30}")
            except ValueError:
                pass


_RUN_UNPICKLED = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("purescript_ifrit_spark") is None
for name, fn, pdf in pickle.load(open(sys.argv[1], "rb")):
    n = sum(len(out) for out in fn(iter([pdf])))
    assert n > 0, name
    print(name, n)
loaded = [m for m in sys.modules if m.startswith("purescript_ifrit_spark")]
assert loaded == [], loaded
"""


def test_batch_ann_workers_run_without_the_package(
    spark, tmp_path, monkeypatch
):
    """The AST guard above only sees imports; a worker closure that CALLS
    a module-level package function is pickled by reference and needs the
    package on the executors just the same. Run each batch ANN tier's
    actual mapInPandas function, cloudpickled, in a fresh interpreter
    where the package cannot be imported."""
    import numpy as np
    from pyspark import cloudpickle

    from tests.conftest import batch_ann_tiers, tied_ann_corpus

    corpus = tied_ann_corpus(spark, n=6, partitions=1)
    # patch the session's concrete DataFrame class (classic or Connect)
    frame_cls = type(corpus)
    captured = []
    original = frame_cls.mapInPandas

    def capture(self, func, schema, *args, **kwargs):
        captured.append((self, func))
        return original(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", capture)
    jobs = []
    for name, tier in batch_ann_tiers().items():
        tier(corpus, np.array([[1.0, 0.0, 0.0, 0.0]]), [1], 3)
        (src, func), = captured
        captured.clear()
        jobs.append((name, func, src.toPandas()))
    payload = tmp_path / "workers.pkl"
    payload.write_bytes(cloudpickle.dumps(jobs))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _RUN_UNPICKLED, str(payload)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert len(run.stdout.split("\n")) == len(jobs) + 1, run.stdout
