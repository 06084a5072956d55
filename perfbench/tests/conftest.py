def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: starts Spark and runs a workload end to end")
