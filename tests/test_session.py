"""Session factory options."""

from __future__ import annotations

import os

from data_text_search_spark import session
from tests.conftest import SPARK_ARGS


def test_caller_local_dir_skips_tmpfs_dir(spark, tmp_path, monkeypatch):
    """A caller that sets spark.local.dir gets no tmpfs scratch dir
    created behind its back. The shared session already exists, so
    getOrCreate returns it and no second JVM starts."""
    made = []
    real = os.makedirs

    def spy(path, *a, **kw):
        made.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(session.os, "makedirs", spy)
    got = session.get_spark(
        **SPARK_ARGS, extra_conf={"spark.local.dir": str(tmp_path)})
    assert got is spark
    assert not any(p.startswith("/dev/shm") for p in made), made
