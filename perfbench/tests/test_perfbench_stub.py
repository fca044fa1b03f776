"""Each role of the stub fleet, against a live stub process."""

import json
import socket
import subprocess
import sys
import time
import urllib.error
import urllib.request

import _paths  # noqa: F401
import pytest
import stubfleet as S

SEED = 5
HOSTS = 8
INTERVAL = 0.2


@pytest.fixture(scope="module")
def fleet():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    proc = subprocess.Popen([sys.executable, S.__file__, "--port", str(port), "--hosts", str(HOSTS),
                             "--seed", str(SEED), "--interval", str(INTERVAL)], stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "READY"
        yield port, S.fleet_roles(HOSTS)
    finally:
        proc.terminate()
        proc.wait(timeout=10)
        proc.stdout.close()
    assert proc.poll() is not None


def get(host, port, timeout=5.0):
    with urllib.request.urlopen(f"http://{host}:{port}/metrics/snapshot", timeout=timeout) as r:
        return r.status, json.loads(r.read())


def host_of(roles, role):
    return roles.index(role)


def test_roles_are_fixed_and_complete():
    roles = S.fleet_roles(16)
    assert sorted(r for r in roles if r != "healthy") == sorted(S.HOSTILE)
    assert [i for i, r in enumerate(roles) if r != "healthy"] == [0, 4, 8, 12]
    assert roles[0] == "slow"


def test_healthy_host_serves_the_seeded_payload(fleet):
    port, roles = fleet
    h = host_of(roles, "healthy")
    first = get(S.host_address(h), port)[1]
    second = get(S.host_address(h), port)[1]
    assert len(first) == S.N_METRICS
    assert first == S.numeric_payload(SEED, h, int(first[S.SEQ_METRIC]))
    assert second[S.SEQ_METRIC] == first[S.SEQ_METRIC] + 1


def test_down_host_refuses(fleet):
    port, roles = fleet
    with pytest.raises(urllib.error.URLError):
        get(S.host_address(host_of(roles, "down")), port)


def test_5xx_host(fleet):
    port, roles = fleet
    with pytest.raises(urllib.error.HTTPError) as e:
        get(S.host_address(host_of(roles, "http_5xx")), port)
    e.value.close()
    assert e.value.code == 500


def test_non_numeric_host(fleet):
    port, roles = fleet
    h = host_of(roles, "non_numeric")
    body = get(S.host_address(h), port)[1]
    assert isinstance(body[S.NON_NUMERIC_METRIC], str)
    numeric = {k: v for k, v in body.items() if k != S.NON_NUMERIC_METRIC}
    assert numeric == S.numeric_payload(SEED, h, int(body[S.SEQ_METRIC]))


def test_slow_host_answers_late_without_blocking_others(fleet):
    port, roles = fleet
    t0 = time.monotonic()
    status, _ = get(S.host_address(host_of(roles, "slow")), port)
    assert status == 200
    assert time.monotonic() - t0 >= S.SLOW_FACTOR * INTERVAL
    import threading

    slow = threading.Thread(target=get, args=(S.host_address(host_of(roles, "slow")), port))
    slow.start()
    t1 = time.monotonic()
    get(S.host_address(host_of(roles, "healthy")), port)
    assert time.monotonic() - t1 < S.SLOW_FACTOR * INTERVAL
    slow.join(timeout=10)
    assert not slow.is_alive()


def test_registry_and_log(fleet):
    port, roles = fleet
    req = urllib.request.Request(f"http://127.0.0.1:{port}/subjects/SlaveMetrics-value/versions",
                                 data=b'{"schema": "{}"}', method="POST")
    with urllib.request.urlopen(req, timeout=5) as r:
        assert json.loads(r.read()) == {"id": S.SCHEMA_ID}
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/_bench/log", timeout=5) as r:
        log = json.loads(r.read())
    assert log["roles"] == roles
    assert all(done >= arrival for _, _, arrival, done, _ in log["requests"])
    statuses = {roles[h]: status for h, _, _, _, status in log["requests"]}
    assert statuses.get("http_5xx") == 500 and statuses.get("healthy") == 200
