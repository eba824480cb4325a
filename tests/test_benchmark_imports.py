"""The benchmark (perfbench/) drives the package only through public names;
importing its workloads module pins them, so a deleted or renamed name
fails here instead of only when a benchmark run exits. Spark-free."""


def test_perfbench_workloads_imports():
    import perfbench.workloads  # noqa: F401
