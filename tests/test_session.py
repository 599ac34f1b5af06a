"""Runtime conf pinning on an existing session (session.apply_runtime_conf)."""

from __future__ import annotations

import warnings

import pytest

from ask_duckdb_spark.session import RUNTIME_CONF, apply_runtime_conf


class _Conf:
    """conf stub: every key reads unset; one key refuses ``set``."""

    def __init__(self, refuse: str):
        self.refuse = refuse
        self.calls: list[tuple[str, str]] = []

    def get(self, key, default=None):
        self.calls.append(("get", key))
        return default

    def set(self, key, value):
        self.calls.append(("set", key))
        if key == self.refuse:
            raise RuntimeError("CANNOT_MODIFY_CONFIG")


class _Session:
    def __init__(self, conf):
        self.conf = conf


def test_apply_runtime_conf_warns_on_unsettable_conf_and_goes_on():
    refuse = "spark.sql.ansi.enabled"
    conf = _Conf(refuse)
    session = _Session(conf)
    with pytest.warns(RuntimeWarning) as caught:
        apply_runtime_conf(session)
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == 1, msgs
    assert refuse in msgs[0]
    assert RUNTIME_CONF[refuse] in msgs[0]
    assert "RuntimeError: CANNOT_MODIFY_CONFIG" in msgs[0]
    # the loop went on past the refused conf
    assert [k for op, k in conf.calls if op == "set"] == list(RUNTIME_CONF)
    # pinned once per session: a second call makes no conf calls
    conf.calls.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        apply_runtime_conf(session)
    assert conf.calls == []
