"""Operation-table dispatch: HTTP routing and the CLI over a recording
fake API (no Spark), plus the request-body hardening of the listener.

``data/dispatch_records.json`` holds what every HTTP route and every CLI
subcommand sent to ``CorrelationAPI`` under the hand-written dispatchers
the table replaced: the method name and the arguments normalised with
``inspect.signature(...).bind(...).apply_defaults()``, for a request with
only the required parameters, one with every parameter, and (HTTP) one
with none. Replaying them pins the table to the old surfaces; the few
entries whose answer changed on purpose are listed in ``_CHANGED``."""

from __future__ import annotations

import inspect
import json
import os
import socket
import threading

import pytest

import correlationapi_spark.__main__ as cli
import correlationapi_spark.api as api_module
from correlationapi_spark.api import CorrelationAPI
from correlationapi_spark.http_api import OPERATIONS, _route, make_server

with open(os.path.join(os.path.dirname(__file__), "data",
                       "dispatch_records.json")) as _f:
    _RECORDS = json.load(_f)

# records whose dispatch changed on purpose (the int/bool parser fixes):
# a dict patches the recorded call's arguments, an exception type is the
# error the request now raises instead
_CHANGED = {
    "edge gini=TRUE": {"gini": True},
    "edge fill_gaps=yes": {"fill_gaps": True},
    "edge centroids=TRUE": {"include_centroids": True},
    "edge k=2.9": ValueError,
    "edge ids=[1.5,true]": ValueError,
}


class Recorder:
    """Stands in for CorrelationAPI: records each call, normalised
    against the real method's signature, and answers an empty dict."""

    last: Recorder | None = None

    def __init__(self, *_):
        self.calls: list = []
        Recorder.last = self

    def __getattr__(self, name):
        def call(*args, **kwargs):
            bound = inspect.signature(getattr(CorrelationAPI, name)).bind(
                None, *args, **kwargs)
            bound.apply_defaults()
            self.calls.append([name, dict(list(bound.arguments.items())[1:])])
            return [] if name in ("list_datasets", "variables") else {}
        return call


@pytest.fixture
def fake_cli(monkeypatch):
    monkeypatch.setattr(cli, "_spark", lambda: None)
    monkeypatch.setattr(api_module, "CorrelationAPI", Recorder)


def _replay_http(rec):
    api = Recorder()
    try:
        status, _ = _route(api, rec["method"], rec["path"], rec["query"],
                           rec["body"])
        outcome = {"status": status}
    except Exception as e:  # noqa: BLE001 - compared against the record
        outcome = {"error": [type(e).__name__, str(e)]}
    return outcome, json.loads(json.dumps(api.calls))


def _replay_cli(rec, capsys):
    rc = cli.main(rec["argv"])
    out = capsys.readouterr().out
    assert out.count("\n") == 1, out  # one JSON document per command
    return {"rc": rc}, json.loads(json.dumps(Recorder.last.calls))


@pytest.mark.parametrize("rec", [r for r in _RECORDS if r["id"] not in _CHANGED],
                         ids=lambda r: r["id"])
def test_dispatch_matches_recorded(rec, fake_cli, capsys):
    if rec["kind"] == "http":
        outcome, calls = _replay_http(rec)
        want = ({"error": rec["error"]} if "error" in rec
                else {"status": rec["status"]})
    else:
        outcome, calls = _replay_cli(rec, capsys)
        want = {"rc": rec["rc"]}
    assert (outcome, calls) == (want, rec["calls"])


@pytest.mark.parametrize("rid", sorted(_CHANGED))
def test_dispatch_deliberate_changes(rid):
    rec = next(r for r in _RECORDS if r["id"] == rid)
    change = _CHANGED[rid]
    outcome, calls = _replay_http(rec)
    if isinstance(change, dict):
        name, args = rec["calls"][0]
        assert outcome == {"status": 200}
        assert calls == [[name, {**args, **change}]]
    else:
        assert outcome["error"][0] == change.__name__ and not calls


def test_records_cover_every_operation():
    """The records cover every table operation on both surfaces."""
    paths = {(r["method"], r["path"]) for r in _RECORDS if r["kind"] == "http"}
    assert {(op.verb, op.path) for op in OPERATIONS} <= paths
    commands = {r["argv"][0] for r in _RECORDS if r["kind"] == "cli"}
    assert len(commands) == len(OPERATIONS)


# ------------------------------------------------------ int / bool parsers


def _filler(op, wire):
    """A valid value for a required parameter on op's surface."""
    t = op.params[wire].type
    if op.verb == "GET":
        return {"int": "1", "float": "0.5", "list[int]": "1,2"}.get(t, "x")
    return {"int": 1, "float": 0.5, "list[int]": [1, 2],
            "list[str]": ["a"], "list": [1]}.get(t, "x")


def _request(op, wire, value):
    values = {w: _filler(op, w) for w in op.required}
    values[wire] = value
    api = Recorder()
    query, body = (values, {}) if op.verb == "GET" else ({}, values)
    _route(api, op.verb, op.path, query, body)
    (name, args), = api.calls
    return args[op.params[wire].kwarg]


_INT_PARAMS = [(op, w) for op in OPERATIONS for w, p in op.params.items()
               if p.type in ("int", "list[int]")]
_FLOAT_PARAMS = [(op, w) for op in OPERATIONS for w, p in op.params.items()
                 if p.type == "float"]
_BOOL_PARAMS = [(op, w) for op in OPERATIONS for w, p in op.params.items()
                if p.type == "bool"]


def _ids(case):
    return f"{case[0].verb} {case[0].path} {case[1]}"


@pytest.mark.parametrize("case", _INT_PARAMS, ids=_ids)
def test_int_parameters(case):
    op, wire = case
    listy = op.params[wire].type == "list[int]"
    if op.verb == "GET":
        good, bad = [("7", 7), ("-3", -3)], ["2.9", "abc", "1e3", "true"]
        if listy:
            good, bad = [("7, 8", [7, 8])], ["1,b", "1.5"]
    else:
        good, bad = [(7, 7), (7.0, 7), ("7", 7)], [2.9, True, "2.9", [7]]
        if listy:
            good = [([7, 8.0, "9"], [7, 8, 9])]
            bad = [[1.5], [True], [None], "1,b"]
    for raw, want in good:
        got = _request(op, wire, raw)
        assert got == want
        assert all(type(x) is int for x in (got if listy else [got]))
    for raw in bad:
        with pytest.raises(ValueError, match=wire):
            _request(op, wire, raw)


@pytest.mark.parametrize("case", _FLOAT_PARAMS, ids=_ids)
def test_float_parameters(case):
    op, wire = case
    good = [("0.25", 0.25), ("3", 3.0)] + ([(1, 1.0)] if op.verb == "POST" else [])
    for raw, want in good:
        got = _request(op, wire, raw)
        assert got == want and type(got) is float
    for raw in ["abc"] + ([True, [0.5]] if op.verb == "POST" else []):
        with pytest.raises(ValueError, match=wire):
            _request(op, wire, raw)


@pytest.mark.parametrize("case", _BOOL_PARAMS, ids=_ids)
def test_bool_parameters(case):
    op, wire = case
    for raw in ("1", "true", "TRUE", "Yes", "yes"):
        assert _request(op, wire, raw) is True, raw
    for raw in ("0", "false", "No"):
        assert _request(op, wire, raw) is False, raw
    with pytest.raises(ValueError, match=wire):
        _request(op, wire, "maybe")


def test_cli_rejects_non_integer_with_exit_2(fake_cli, capsys):
    rc = cli.main(["index-probe", "--path", "p", "--probes", "1", "--k", "2.9"])
    out = capsys.readouterr().out
    assert rc == 2 and "k must be an integer" in json.loads(out)["error"]


def test_cli_fill_gaps_flag(fake_cli, capsys):
    for cmd, cols in (("lagged", ["--value", "v"]), ("rolling", ["--value", "v"]),
                      ("acf", ["--value", "v"]), ("xcorr", ["--x", "a", "--y", "b"])):
        argv = [cmd, "--data", "d", "--time", "t", *cols]
        assert cli.main(argv) == 0
        assert Recorder.last.calls[-1][1]["fill_gaps"] is False
        assert cli.main(argv + ["--fill-gaps"]) == 0
        assert Recorder.last.calls[-1][1]["fill_gaps"] is True
    capsys.readouterr()


# ------------------------------------------------------------- error map


def test_cli_unexpected_error_exits_3_with_one_json_line(monkeypatch, capsys):
    class Broken(Recorder):
        def index_status(self, path):
            raise RuntimeError("disk on fire")

    monkeypatch.setattr(cli, "_spark", lambda: None)
    monkeypatch.setattr(api_module, "CorrelationAPI", Broken)
    rc = cli.main(["index-status", "--path", "p"])
    out = capsys.readouterr().out
    assert rc == 3 and out.count("\n") == 1
    assert json.loads(out) == {"error": "RuntimeError: disk on fire"}


# ------------------------------------------------- request-body hardening


@pytest.fixture
def port():
    server = make_server(Recorder(), port=0)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield server.server_address[1]
    server.shutdown()


def _raw_post(port, content_length):
    with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
        s.sendall(b"POST /matrix HTTP/1.1\r\nHost: x\r\n"
                  b"Content-Length: " + content_length + b"\r\n\r\n"
                  b'{"dataset": "d"}')
        data = b""
        while chunk := s.recv(4096):
            data += chunk
    head, _, body = data.partition(b"\r\n\r\n")
    return head.split(b"\r\n")[0], json.loads(body)


@pytest.mark.parametrize("content_length", [b"abc", b"-1"])
def test_bad_content_length_answers_400(port, content_length):
    status_line, payload = _raw_post(port, content_length)
    assert b" 400 " in status_line
    assert "Content-Length" in payload["error"]
