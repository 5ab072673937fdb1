"""Seeded workload inputs.

Every sample is a pure function of (seed, query, series, ts): the same
seed gives the same bytes, whichever order or chunking asks for them.
Series carry a diurnal shape, noise, injected spikes and level shifts;
in history mode some grid points are missing, so fill has real work.
"""

from __future__ import annotations

import numpy as np

#: 16 node-exporter style queries (the reference ships 16 in config.yaml)
QUERIES = {
    "cpu_user": 'avg(rate(node_cpu_seconds_total{mode="user"}[2m]))',
    "cpu_system": 'avg(rate(node_cpu_seconds_total{mode="system"}[2m]))',
    "cpu_iowait": 'avg(rate(node_cpu_seconds_total{mode="iowait"}[2m]))',
    "load1": "avg(node_load1)",
    "mem_available": "avg(node_memory_MemAvailable_bytes)",
    "mem_cached": "avg(node_memory_Cached_bytes)",
    "swap_used": "avg(node_memory_SwapTotal_bytes - node_memory_SwapFree_bytes)",
    "disk_read": "sum(rate(node_disk_read_bytes_total[2m]))",
    "disk_write": "sum(rate(node_disk_written_bytes_total[2m]))",
    "disk_io_time": "sum(rate(node_disk_io_time_seconds_total[2m]))",
    "fs_free": "avg(node_filesystem_avail_bytes)",
    "net_rx": "sum(rate(node_network_receive_bytes_total[2m]))",
    "net_tx": "sum(rate(node_network_transmit_bytes_total[2m]))",
    "net_errs": "sum(rate(node_network_receive_errs_total[2m]))",
    "tcp_estab": "avg(node_netstat_Tcp_CurrEstab)",
    "procs_running": "avg(node_procs_running)",
}
ALIASES = sorted(QUERIES)
QUERY_INDEX = {QUERIES[a]: i for i, a in enumerate(ALIASES)}

#: history start of the collect workload (any step-aligned instant works)
HISTORY_START = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 arrays."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _params(seed: int, query: int, n_series: int) -> np.ndarray:
    """(n_series, 4) shape parameters; row s depends only on (seed, query, s)."""
    rng = np.random.default_rng([seed, query])
    return rng.uniform([0.2, 0.05, 0.0, 0.01], [0.6, 0.2, 6.28, 0.04], size=(n_series, 4))


def _keys(seed: int, query: int, series: np.ndarray) -> np.ndarray:
    return ((seed * 131 + query) * 4099 + series).astype(np.uint64)


def _unit(keys: np.ndarray, ts: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0, 1) per (key, ts, salt); keys (S, 1) x ts (T,) -> (S, T)."""
    with np.errstate(over="ignore"):
        h = _mix(
            ts.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            ^ (keys * np.uint64(1_000_003) + np.uint64(salt))
        )
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def block(seed: int, query: int, n_series: int, ts: np.ndarray, missing: float = 0.0):
    """Values in [0, 1] and the present-mask for series 0..n_series-1 at
    epoch seconds ``ts``; both (n_series, len(ts))."""
    base, amp, phase, noise = (c[:, None] for c in _params(seed, query, n_series).T)
    keys = _keys(seed, query, np.arange(n_series))[:, None]
    t = ts.astype(np.float64)[None, :]
    v = base + amp * np.sin(2 * np.pi * t / DAY + phase)
    v = v + noise * (_unit(keys, ts, 1) - 0.5)
    v = v + np.where(_unit(keys, ts, 2) < 0.005, 0.3, 0.0)  # spikes
    v = v + np.where(_unit(keys, ts // 3600, 3) < 0.05, 0.15, 0.0)  # level-shifted hours
    keep = _unit(keys, ts, 4) >= missing if missing > 0.0 else np.ones(v.shape, dtype=bool)
    return np.clip(v, 0.0, 1.0), keep


def grid(start: int, end: int, step: int) -> np.ndarray:
    """query_range grid: start, start+step, ... <= end (both ends inclusive)."""
    if end < start:
        return np.empty(0, dtype=np.int64)
    return np.arange(start, end + 1, step, dtype=np.int64)


def range_body(
    seed: int, query: int, n_series: int, ts: np.ndarray, missing: float
) -> bytes:
    """A ``/api/v1/query_range`` success body for one query."""
    vals, keep = block(seed, query, n_series, ts, missing)
    tss = [str(int(t)) for t in ts]
    series = []
    for s in range(n_series):
        pts = ",".join(
            f'[{t},"{v!r}"]'
            for t, v, k in zip(tss, vals[s].tolist(), keep[s].tolist())
            if k
        )
        series.append(
            f'{{"metric":{{"__name__":"{ALIASES[query]}","instance":"node-{s}"}},'
            f'"values":[{pts}]}}'
        )
    return (
        '{"status":"success","data":{"resultType":"matrix","result":['
        + ",".join(series)
        + "]}}"
    ).encode()
