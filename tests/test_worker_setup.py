"""Per-task Python-worker setup: ``worker_task_setup`` and the UDFs that call
it. No Spark session: the UDFs' Python functions run in this process."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest

from pprl_scaling_framework_spark.blocking.hlsh import hlsh_keys_udf, position_matrix
from pprl_scaling_framework_spark.encoding.encode import encode_udf
from pprl_scaling_framework_spark.encoding.schemes import clk
from pprl_scaling_framework_spark.matching.score import pair_scorer
from pprl_scaling_framework_spark.sources import session
from pprl_scaling_framework_spark.sources.session import worker_task_setup

MODULES = ("zipped_first", "zipped_second")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _no_gc_freeze(monkeypatch):
    """Keep the test process's heap unfrozen: the gc.freeze step is checked
    in a fresh interpreter by test_worker_task_setup_freezes_gc_once."""
    monkeypatch.setattr(session, "_gc_frozen", True)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding two modules, at the front of ``sys.path``."""
    path = str(tmp_path / "two_modules.zip")
    with zipfile.ZipFile(path, "w") as z:
        for i, name in enumerate(MODULES):
            z.writestr(f"{name}.py", f"VALUE = {i + 1}\n")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in MODULES:
        sys.modules.pop(name, None)


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_evict_zip_finders_keeps_zip_importable(zip_on_path):
    first = importlib.import_module(MODULES[0])
    assert first.VALUE == 1
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)

    worker_task_setup()
    assert _zip_finders() == []

    # the next import that needs the zip rebuilds its finder
    second = importlib.import_module(MODULES[1])
    assert second.VALUE == 2
    assert second.__file__.startswith(zip_on_path)


def test_benchmark_path_udfs_evict_zip_finders(zip_on_path):
    n_bits = 256
    cfg = clk(["content"], N=n_bits, K=4, Q=2)
    positions = position_matrix(4, 8, n_bits, seed=7)
    contents = pd.Series(["alpha beta", "gamma delta", "alpha beta"])
    bfs = encode_udf(cfg).func(contents)
    pairs = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b", "c"]), pa.array(["d", "e", "f"]),
         pa.array(bfs, pa.binary()), pa.array(bfs, pa.binary())],
        names=["id_a", "id_b", "bf_a", "bf_b"])
    calls = {
        "encode": lambda: encode_udf(cfg).func(contents),
        "hlsh": lambda: hlsh_keys_udf(positions, n_bits).func(bfs),
        "similarity": lambda: pa.Table.from_batches(
            pair_scorer("dice", 0.5, n_bits)(iter([pairs]))),
    }
    for name, call in calls.items():
        sys.path_importer_cache[zip_on_path] = zipimport.zipimporter(zip_on_path)
        out = call()
        assert len(out) == len(contents), name
        assert zip_on_path not in sys.path_importer_cache, name


def test_worker_task_setup_freezes_gc_once():
    code = (
        "import gc\n"
        "from pprl_scaling_framework_spark.sources.session import worker_task_setup\n"
        "assert gc.get_freeze_count() == 0\n"
        "worker_task_setup()\n"
        "frozen = gc.get_freeze_count()\n"
        "new_objects = [[] for _ in range(1000)]\n"
        "worker_task_setup()\n"
        "print(frozen, gc.get_freeze_count())\n"
    )
    done = subprocess.run([sys.executable, "-c", code], cwd=REPO, timeout=120,
                          capture_output=True, text=True, check=True)
    first, second = map(int, done.stdout.split())
    assert first > 0
    assert second == first  # the second task froze nothing new
