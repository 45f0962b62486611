"""The package's public surface: every exported name resolves."""

from __future__ import annotations

import timeperiods_spark


def test_every_exported_name_resolves():
    missing = [n for n in timeperiods_spark.__all__ if not hasattr(timeperiods_spark, n)]
    assert not missing, missing
    assert len(set(timeperiods_spark.__all__)) == len(timeperiods_spark.__all__)


def test_star_import_succeeds():
    ns: dict = {}
    exec("from timeperiods_spark import *", ns)
    assert set(timeperiods_spark.__all__) <= set(ns)
