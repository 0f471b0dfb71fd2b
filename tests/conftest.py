import os

import pytest

# build_session defaults spark.driver.memory to 32g, sized for a 32-core
# bench host.  On a host with less memory the lazily-collected heap of the
# one long-lived test JVM grows until the OOM killer ends it mid-suite;
# the test corpora need a small fraction of 4g.  An explicit setting wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from latyas_spark.pipeline.session import build_session

    s = build_session(master="local[4]", shuffle_partitions=8, app_name="latyas-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    from latyas_spark.fixtures import write_corpus

    d = tmp_path_factory.mktemp("corpus")
    write_corpus(str(d), n_docs=40, mega_every=25)
    return str(d)


@pytest.fixture(scope="session")
def sf001_dir():
    d = "/root/testdata/sf0.001"
    if not os.path.isdir(d):
        pytest.skip("driver testdata not present")
    return d


@pytest.fixture(scope="session")
def sf001_duck(sf001_dir):
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{sf001_dir}/{name}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM parquet_scan('{path}')"
            )
    yield con
    con.close()
