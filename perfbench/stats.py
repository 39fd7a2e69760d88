"""Latency statistics shared by the benchmark, its steadiness script and
its trace summariser."""


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def latencies(workload, ops, sub_ops):
    """Per-class latency samples (ms) of one run's successful operations:
    'main' feeds p50_ms, 'write' and 'read' write_p50_ms and read_p50_ms.

    medallion_stream: main = freshness (landing to MV commit), write = the
    landing-to-Silver phase of the same operation, read = the catalog
    queries over the landed events. lake_dml: main = one round (MERGE plus
    read), write = the MERGE, read = the aggregate plus lookup."""
    ok = [o for o in ops if o["ok"]]

    def ms(kind, src=ok):
        return [o["ms"] for o in src if o["kind"] == kind]

    if workload == "medallion_stream":
        return {"main": ms("fresh"),
                "write": ms("write", [o for o in sub_ops if o["ok"]]),
                "read": ms("read")}
    writes, reads = ms("write"), ms("read")
    return {"main": [w + r for w, r in zip(writes, reads)],
            "write": writes, "read": reads}
