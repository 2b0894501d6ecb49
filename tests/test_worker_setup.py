"""Per-task Python-worker setup: ``evict_zip_finders`` and the UDFs that call
it. No Spark session: the UDFs' Python functions run in this process."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pprl_scaling_framework_spark.blocking.hlsh import hlsh_keys_udf, position_matrix
from pprl_scaling_framework_spark.encoding.encode import encode_udf
from pprl_scaling_framework_spark.encoding.schemes import clk
from pprl_scaling_framework_spark.matching.score import similarity_udf
from pprl_scaling_framework_spark.sources.session import evict_zip_finders

MODULES = ("zipped_first", "zipped_second")


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

    evict_zip_finders()
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
    calls = {
        "encode": lambda: encode_udf(cfg).func(contents),
        "hlsh": lambda: hlsh_keys_udf(positions, n_bits).func(bfs),
        "similarity": lambda: similarity_udf("dice", n_bits).func(bfs, bfs),
    }
    for name, call in calls.items():
        sys.path_importer_cache[zip_on_path] = zipimport.zipimporter(zip_on_path)
        out = call()
        assert len(out) == len(contents), name
        assert zip_on_path not in sys.path_importer_cache, name
