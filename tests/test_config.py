"""Config resolution semantics (R16), mirroring the reference's
Hivent.Config doctests (config.ex:21-56): direct values, {:system, VAR}
indirection with call-site default, {:system, VAR, preconfigured}
indirection, and integer coercion with leading-integer parse."""

from __future__ import annotations

import os

from ex_hivent_spark import config


def test_direct_value():
    assert config.get({"a": 1}, "a") == 1


def test_missing_returns_default():
    assert config.get({}, "a", "dflt") == "dflt"
    assert config.get({}, "a") is None


def test_system_indirection_resolves_env(monkeypatch):
    monkeypatch.setenv("EHS_TEST_VAR", "from-env")
    assert config.get({"a": ("system", "EHS_TEST_VAR")}, "a") == "from-env"


def test_system_indirection_falls_back_to_default(monkeypatch):
    monkeypatch.delenv("EHS_TEST_VAR", raising=False)
    assert config.get({"a": ("system", "EHS_TEST_VAR")}, "a", "dflt") == "dflt"


def test_system_indirection_preconfigured_default(monkeypatch):
    monkeypatch.delenv("EHS_TEST_VAR", raising=False)
    cfg = {"a": ("system", "EHS_TEST_VAR", "pre")}
    # preconfigured default wins over the call-site default (config.ex:28-33)
    assert config.get(cfg, "a", "dflt") == "pre"
    monkeypatch.setenv("EHS_TEST_VAR", "env")
    assert config.get(cfg, "a", "dflt") == "env"


def test_get_integer_passthrough_and_parse(monkeypatch):
    assert config.get_integer({"a": 7}, "a") == 7
    assert config.get_integer({"a": "12"}, "a") == 12
    # Elixir Integer.parse semantics: leading integer of a mixed string
    assert config.get_integer({"a": "12abc"}, "a") == 12
    assert config.get_integer({"a": "-3"}, "a") == -3
    assert config.get_integer({"a": "abc"}, "a", 5) == 5
    assert config.get_integer({}, "a", 9) == 9
    monkeypatch.setenv("EHS_TEST_INT", "41")
    assert config.get_integer({"a": ("system", "EHS_TEST_INT")}, "a") == 41


def test_engine_settings_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert config.setting_integer("cpus") == 16
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # preconfigured default: the CPUs this process may run on
    assert config.setting_integer("cpus") == len(os.sched_getaffinity(0))
    assert os.environ.get("SPARK_GRAFT_CPUS") is None
