from __future__ import annotations

import __spark_entry__
from dlp_rdb_bq_import_spark.session import sql_confs


def test_configure_sets_every_sql_conf(spark):
    """A session handed to the entry point gets every runtime-settable
    conf ``get_spark`` builds with (the shared session's own values are
    put back: it runs with 8 shuffle partitions)."""
    confs = sql_confs()
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.unset(k)
        __spark_entry__._configure(spark)
        assert {k: spark.conf.get(k) for k in confs} == confs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
