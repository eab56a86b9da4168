"""Built-in HTTP(S) remote-ref loader (reference: compiler.go:336-339,397-427
— a 10s-timeout http client behind a per-scheme registry). Every test here
fetches over a REAL local HTTP server. The built-in fetch test serves its own
fixture document from a temporary directory; only the suite's refRemote case
needs the vendored JSON-Schema-Test-Suite, whose remotes/ directory it serves
exactly like the upstream harness serves :1234, and it skips without it."""

from __future__ import annotations

import functools
import http.server
import json
import threading

import pytest

from jsonschema_spark.compiler import Compiler
from jsonschema_spark.loaders import HTTPLoader, SchemaLoadError, SchemeLoader
from tests.suite_loader import REMOTES_DIR, load_cases, suite_available


def _serve(directory: str):
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=directory
    )
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()
    httpd.server_close()


@pytest.fixture(scope="module")
def remotes_server():
    yield from _serve(REMOTES_DIR)


@pytest.fixture(scope="module")
def fixture_server(tmp_path_factory):
    """Serves a temporary directory holding the suite's integer.json."""
    root = tmp_path_factory.mktemp("remotes")
    (root / "integer.json").write_text(json.dumps({"type": "integer"}))
    yield from _serve(str(root))


@pytest.mark.skipif(not suite_available(), reason="suite not vendored")
def test_suite_refremote_via_builtin_http(remotes_server):
    """Every refRemote case passes with NO injected loader — refs fetched
    over real HTTP by the built-in client (localhost URIs rewritten to the
    ephemeral test port; the suite assumes a fixed :1234 server)."""
    port_base = remotes_server

    def rewrite(uri: str) -> str:
        return uri.replace("http://localhost:1234", port_base)

    # per-scheme registration wins over the builtin, so route http through
    # the builtin client AFTER rewriting the host:port
    http_client = HTTPLoader()
    ran = 0
    for case in load_cases("refRemote.json"):
        compiler = Compiler()
        compiler.register_loader("http", lambda uri: http_client(rewrite(uri)))
        compiled = compiler.compile(case["schema"])
        for test in case["tests"]:
            got = compiled.validate(test["data"]).valid
            assert got == test["valid"], (case["description"], test["description"])
            ran += 1
    assert ran > 0


def test_builtin_http_loader_fetches(fixture_server):
    schema = {"$ref": f"{fixture_server}/integer.json"}
    compiled = Compiler().compile(schema)
    assert compiled.validate(3).valid
    assert not compiled.validate("x").valid


def test_http_loader_error_paths(remotes_server):
    loader = HTTPLoader(timeout=2.0)
    with pytest.raises(SchemaLoadError):
        loader(f"{remotes_server}/definitely-missing.json")  # 404
    with pytest.raises(SchemaLoadError):
        # connection refused: an unbound local port
        HTTPLoader(timeout=2.0)("http://127.0.0.1:1/x.json")


def test_scheme_registry_dispatch():
    loader = SchemeLoader({"mem": lambda uri: {"type": "integer"}})
    assert loader("mem://x")["type"] == "integer"
    with pytest.raises(SchemaLoadError):
        loader("gopher://nope")


def test_injected_loader_keeps_precedence(remotes_server):
    """Legacy Compiler(loader=...) callables serve ANY scheme first — the
    suite fixtures rely on file-served http:// URIs."""
    calls = []

    def legacy(uri: str):
        calls.append(uri)
        return {"type": "string"}

    compiled = Compiler(loader=legacy).compile({"$ref": "http://example.invalid/s.json"})
    valid = compiled.validate("ok").valid  # refs may resolve lazily
    assert calls and valid
