"""Session helpers that need no Spark: the package zip shipped to workers."""

import os
import zipfile
from types import SimpleNamespace

from peerdb_spark import session


class _StubConf(dict):
    def get(self, key, default=None):
        return super().get(key, default)

    def set(self, key, value):
        self[key] = value


def _stub_session(shipped):
    return SimpleNamespace(
        conf=_StubConf(),
        sparkContext=SimpleNamespace(addPyFile=shipped.append),
    )


def test_ship_package_writes_one_zip_per_session():
    """Two sessions (say, from two checkouts sharing the temp dir) each get
    their own zip; the second write leaves the first one intact for the
    executors still fetching it. A session ships once."""
    shipped = []
    first, second = _stub_session(shipped), _stub_session(shipped)
    session._ship_package(first)
    session._ship_package(second)
    session._ship_package(first)
    assert len(shipped) == 2 and shipped[0] != shipped[1]
    for path in shipped:
        assert os.path.basename(path).startswith("peerdb_spark_pkg-")
        with zipfile.ZipFile(path) as z:
            assert z.testzip() is None
            assert "peerdb_spark/codecs.py" in z.namelist()
