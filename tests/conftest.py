import pytest

from bq_duckdb_spark import get_spark
from bq_duckdb_spark.engine import Session, SessionManager


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="bq-duckdb-spark-tests", cpus=4)


@pytest.fixture(scope="session")
def manager(spark):
    return SessionManager(spark)


@pytest.fixture()
def session(spark) -> Session:
    s = Session(spark)
    yield s
    s.destroy()


def rows(df, *cols):
    """Collect to a list of tuples (optionally projecting cols) for
    golden comparisons."""
    if cols:
        df = df.select(*cols)
    return [tuple(r) for r in df.collect()]
