def pytest_configure(config):
    config.addinivalue_line(
        "markers", "smoke: runs every workload at sf0.001 in one Spark session")
