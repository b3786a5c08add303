import os
import sys

import pytest

# repo root importable (package lives at the root, tests/ beside it)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture
def numpy_backend(monkeypatch):
    """Run the kernel on its NumPy fallback loops instead of the compiled
    recurrences (the bit-identity tests run once on each)."""
    from atr_adaptive_laguerre_spark.kernel import recurrences

    monkeypatch.setattr(recurrences, "_compiled", False)


@pytest.fixture(scope="session")
def spark():
    from atr_adaptive_laguerre_spark.engine.session import build_session

    s = build_session(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_parquet(tmp_path_factory):
    from atr_adaptive_laguerre_spark.data.corpus import write_corpus_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "tokens.parquet")
    write_corpus_parquet(path, n_docs=60, seed=42,
                         min_len=40, max_len=300,
                         heavy_every=13, heavy_len=900)
    return path


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
