"""The media operators' and the xlsx reader's Python workers must not
import ``dataqtor_spark``.

A Python worker's ``sys.path`` is its own working directory plus the
worker's ``PYTHONPATH``; the driver's ``sys.path`` does not reach it.  So
whatever a ``mapInPandas`` function needs from this package has to
travel inside its pickle.  Both tests run the worker side in a process
whose working directory is a temp dir and whose environment has no
``PYTHONPATH``.
"""
import os
import pickle
import subprocess
import sys
from collections import Counter

import pandas as pd
import pytest

from dataqtor_spark.operators import multimodal as MM
from tests.test_jpeg_decode import _gradient, encode_jpeg
from tests.test_multimodal_streaming import (
    _mp4_fixture, _tiny_avi, _tiny_png, _tiny_wav)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
MEDIA_QUERIES = ["m04_image_phash_pairs", "m05_image_dedup_clusters",
                 "m06_audio_fp_pairs", "m07_video_frame_dedup",
                 "d11_multimodal_dedup_report"]


def _bare_env():
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return env


class _Capture:
    """Stands in for a DataFrame: ``select`` returns itself and
    ``mapInPandas`` records the function and schema it is given."""

    def __init__(self):
        self.calls = []

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.calls.append((fn, schema))
        return self


def test_media_udfs_unpickle_and_run_without_the_package(monkeypatch,
                                                         tmp_path):
    from pyspark import cloudpickle

    monkeypatch.setattr(MM.F, "col", lambda name: name)
    cap = _Capture()
    for op in (MM.decode_image_features, MM.resize_images, MM.image_phash,
               MM.sample_video_frames, MM.extract_audio_features,
               MM.audio_fingerprint, MM.probe_media_info):
        op(cap)
    jpg = encode_jpeg(_gradient(16, 16, lambda x, y: 9 * x + 4 * y))
    batch = pd.DataFrame({"media_id": range(7), "payload": [
        _tiny_png(5, 3, (9, 80, 200)), jpg, _tiny_wav(0.1, 8000, 440.0),
        _tiny_avi([jpg, jpg], 40000), _mp4_fixture(), b"junk", None]})

    def run(fn):
        return pd.concat(list(fn(iter([batch.copy()]))), ignore_index=True)

    want = [run(fn) for fn, _schema in cap.calls]
    (tmp_path / "fns.pkl").write_bytes(
        cloudpickle.dumps([fn for fn, _schema in cap.calls]))
    (tmp_path / "batch.pkl").write_bytes(pickle.dumps(batch))
    script = (
        "import pickle, pandas as pd\n"
        "try:\n"
        "    import dataqtor_spark\n"
        "    raise SystemExit('dataqtor_spark is importable here')\n"
        "except ModuleNotFoundError:\n"
        "    pass\n"
        "fns = pickle.load(open('fns.pkl', 'rb'))\n"
        "batch = pickle.load(open('batch.pkl', 'rb'))\n"
        "out = [pd.concat(list(f(iter([batch.copy()]))), ignore_index=True)\n"
        "       for f in fns]\n"
        "pickle.dump(out, open('out.pkl', 'wb'))\n")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=_bare_env(), capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = pickle.loads((tmp_path / "out.pkl").read_bytes())
    assert len(got) == 7
    for (_fn, schema), g, w in zip(cap.calls, got, want):
        pd.testing.assert_frame_equal(g, w, obj=schema)


@pytest.mark.skipif(not os.path.exists(SF_DIR), reason="testdata absent")
def test_media_queries_run_from_any_working_directory(spark, tmp_path):
    """The five media queries, plus a ``read_excel_distributed`` read, run
    by a driver that has the repo on its ``sys.path`` only, give the rows
    of the same calls in this process."""
    from dataqtor_spark.queries import QUERIES
    from dataqtor_spark.sources.xlsx import read_excel_distributed
    from tests.test_xlsx_source import _write_book

    books = tmp_path / "books"
    books.mkdir()
    _write_book(books, "a.xlsx", ["name", "qty"], [["ann", 3], ["bob", 4]])
    xlsx_schema = "name string, qty int"
    script = (
        "import pickle, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from dataqtor_spark.queries import QUERIES\n"
        "from dataqtor_spark.session import get_spark\n"
        "from dataqtor_spark.sources.xlsx import read_excel_distributed\n"
        "spark = get_spark('worker-imports')\n"
        f"out = {{q: [tuple(r) for r in QUERIES[q](spark, {SF_DIR!r}).collect()]\n"
        f"       for q in {MEDIA_QUERIES!r}}}\n"
        "out['xlsx'] = [tuple(r) for r in read_excel_distributed(\n"
        f"    spark, {str(books)!r}, {xlsx_schema!r}).collect()]\n"
        "pickle.dump(out, open('rows.pkl', 'wb'))\n"
        "spark.stop()\n")
    env = _bare_env()
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = pickle.loads((tmp_path / "rows.pkl").read_bytes())
    want = {q: QUERIES[q](spark, SF_DIR).collect() for q in MEDIA_QUERIES}
    want["xlsx"] = read_excel_distributed(spark, str(books),
                                          xlsx_schema).collect()
    for name, rows in want.items():
        assert rows, name
        assert Counter(got[name]) == Counter(map(tuple, rows)), name
