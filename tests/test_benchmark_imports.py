"""The benchmarks reach the package only by name: perfbench/ through public
names (importing its workloads module pins them), bench.py through registry
keys. A deleted or renamed name fails here instead of only when a benchmark
run exits. Spark-free."""


def test_perfbench_workloads_imports():
    import perfbench.workloads  # noqa: F401


def test_bench_queries_are_registered():
    """bench.py and scripts/drive.py --time time BENCH_QUERIES by name: a
    name that left the registry would otherwise surface only as a KeyError
    partway through a bench run."""
    import __spark_entry__ as entrymod
    import bench

    assert set(bench.BENCH_QUERIES) <= set(entrymod.queries())
