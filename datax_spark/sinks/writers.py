"""Sink writers: the Writer-plugin surface as Spark writes.

Write modes mirror hdfswriter (``HdfsWriter.java:83-92,151-196``):
append / nonConflict (fail if target exists) / truncate (overwrite).
The reference's two-phase temp-dir-then-rename commit is built into
Spark's FileOutputCommitter for files and formalized in
``lake.LakeTable`` for upserts (atomic manifest swap).

Upsert writers (mysqlwriter's ON DUPLICATE KEY UPDATE family,
``WriterUtil.java:150-170``) map to ``lakewriter`` → LakeTable MERGE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

_MODE = {"append": "append", "truncate": "overwrite", "nonConflict": "error"}


def _q(ident: str) -> str:
    """Quote a SQL identifier (ANSI double quotes) preserving case —
    Spark's JDBC writer quotes the columns it creates, so generated
    statements must match exactly."""
    return '"' + ident.replace('"', '""') + '"'


def jdbc_execute(
    spark, url: str, statements: list[str], table: str, p: dict,
    transactional: bool = False,
) -> None:
    """Run driver-side SQL statements over a JVM JDBC connection.

    The reference's preSql/postSql hook (``CommonRdbmsWriter.java:91-
    165``) with the same ``@table`` placeholder templating
    (``WriterUtil.java:113-130``). Statements run sequentially on ONE
    connection — they are DDL/housekeeping, not the data path; the
    parallel data write stays on the executors.

    ``transactional=True`` runs the batch in ONE transaction with
    rollback on failure — required for multi-statement state changes
    like the staged upsert's DELETE+INSERT swap, where a crash between
    autocommitted statements would lose the deleted rows.
    """
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k in ("user", "password"):
        if k in p:
            props.setProperty(k, str(p[k]))
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        if transactional:
            conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            for s in statements:
                st.execute(s.replace("@table", table))
            if transactional:
                conn.commit()
        except Exception:
            if transactional:
                conn.rollback()
            raise
        finally:
            st.close()
    finally:
        conn.close()


def write_restful(df: DataFrame, p: dict) -> dict:
    """restfulapiwriter: push rows to an HTTP endpoint.

    Two modes, dispatched on the config:

    * **parameterized single call** (reference parity,
      ``RestFulApiWriter.java:126-181`` + ``replaceParam`` at
      ``:196-232``): when ``method`` is GET or any ``queryParam``
      value is a ``$column`` reference, the FIRST record's values
      substitute into the matching queryParam keys and ONE request
      fires — the reference's actual behavior (it reads a single
      record per job and triggers an API with its values).
    * **bulk POST** (the shape a distributed engine needs): rows are
      serialized to JSON JVM-side (``toJSON`` — no per-row Python
      parsing), batched ``batchSize`` records per request, and POSTed
      from each partition in parallel executor-side — no driver
      collect, so the sink scales with partitions like the reference's
      multi-channel JDBC writers rather than its single-channel REST
      task. Delivery is at-least-once under task retry (same contract
      as the reference's non-transactional writers): the receiving API
      must be idempotent on a record key.
    """
    url = p["url"]
    method = str(p.get("method", "post")).lower()
    columns = list(p.get("column") or df.columns)
    header_infos = {k: str(v) for k, v in (p.get("headerInfos") or {}).items()}
    query_param = dict(p.get("queryParam") or {})
    body_param = p.get("bodyParam")

    from datax_spark.sources.readers import restful_fetch

    has_refs = any(
        isinstance(v, str) and v.startswith("$") for v in query_param.values()
    )
    if method == "get" or has_refs:
        first = df.select(*columns).first()
        if first is not None:
            for k, v in query_param.items():
                if isinstance(v, str) and v.startswith("$") and v[1:] in columns:
                    query_param[k] = first[v[1:]]
        if method == "post" and query_param:
            # GET carries queryParam on the URL; for POST the reference
            # resolves the refs but sends only the JSON body, so fold
            # the resolved params into it.
            body = dict(body_param or {})
            body.update(query_param)
            body_param = body
        restful_fetch(
            url, method=method, header_infos=header_infos,
            query_param=query_param, body_param=body_param,
        )
        return {"requests": 1, "rows": 0 if first is None else 1}

    batch = int(p.get("batchSize", 512))
    timeout = float(p.get("timeoutSec", 300))

    def send_partition(lines) -> None:
        import urllib.request

        headers = {"Content-Type": "application/json", **header_infos}
        buf: list[str] = []

        def flush() -> None:
            if not buf:
                return
            data = ("[" + ",".join(buf) + "]").encode("utf-8")
            req = urllib.request.Request(url, data=data, headers=headers,
                                         method="POST")
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                if not (200 <= resp.status < 300):
                    raise IOError(f"REST write failed: HTTP {resp.status}")
            buf.clear()

        for line in lines:
            buf.append(line)
            if len(buf) >= batch:
                flush()
        flush()

    df.select(*columns).toJSON().foreachPartition(send_partition)
    return {"batch_size": batch, "url": url}


def write_sink(df: DataFrame, name: str, parameter: dict) -> dict:
    """Dispatch a writer-plugin config; returns write stats."""
    p = dict(parameter)
    path = p.get("path")
    mode = _MODE.get(p.get("writeMode", "append"), p.get("writeMode", "append"))

    if name in ("parquetwriter", "hdfswriter_parquet"):
        df.write.mode(mode).parquet(path)
    elif name in ("txtfilewriter", "hdfswriter", "csvwriter"):
        (
            df.write.mode(mode)
            .option("sep", p.get("fieldDelimiter", ","))
            .option("header", str(p.get("header", False)).lower())
            .option("nullValue", p.get("nullFormat", "\\N"))
            .option("compression", p.get("compress", "none"))
            .csv(path)
        )
    elif name == "orcwriter":
        df.write.mode(mode).option("compression", p.get("compress", "snappy")).orc(path)
    elif name == "kafkawriter":
        # KafkaWriter.java: row -> JSON -> producer.send, acks=all.
        # "wire" transport (default) renders the typed column map and
        # produces magic-1 message sets per Spark partition with
        # round-robin topic partitioning (tests/test_kafka.py); the
        # "spark" transport keeps the connector path for clusters
        # that ship spark-sql-kafka. At-least-once either way, as in
        # the reference (retries=0, downstream idempotence).
        if p.get("transport", "wire") == "wire" and p.get("column"):
            from datax_spark.sources.kafka import kafka_write

            return kafka_write(df, p)
        (
            df.select(F.to_json(F.struct(*df.columns)).alias("value"))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", p["bootstrapServers"])
            .option("topic", p["topic"])
            .save()
        )
    elif name in ("mysqlwriter", "oceanbasev10writer", "adswriter",
                  "drdswriter", "tddlwriter") and p.get("host"):
        # native MySQL-protocol transport (sources/mysql.py) with the
        # reference's exact INSERT/REPLACE/ON DUPLICATE KEY templates;
        # jdbcUrl-only configs keep the generic JDBC path below
        from datax_spark.sources.mysql import mysql_write

        return mysql_write(df, p)
    elif name in ("adbpgwriter", "hologresjdbcwriter", "postgresqlwriter",
                  "gpdbwriter") and p.get("host"):
        # native protocol-v3 transport (sources/postgres.py): COPY bulk
        # load / ON CONFLICT upsert; jdbcUrl-only configs keep the
        # generic JDBC path below
        from datax_spark.sources.postgres import pg_write

        return pg_write(df, p)
    elif name == "clickhousewriter" and (p.get("endpoint") or p.get("host")):
        # native HTTP transport (sources/clickhouse.py); configs that
        # carry only a jdbcUrl keep the generic JDBC path below
        from datax_spark.sources.clickhouse import clickhouse_write

        return clickhouse_write(df, p)
    elif name == "jdbcwriter":
        spark = df.sparkSession
        url, table = p["jdbcUrl"], p["table"]
        write_mode = p.get("writeMode", "insert")
        if p.get("preSql"):
            pre = p["preSql"] if isinstance(p["preSql"], list) else [p["preSql"]]
            jdbc_execute(spark, url, pre, table, p)

        def _writer(target: str, spark_mode: str):
            w = (
                df.write.format("jdbc")
                .option("url", url)
                .option("dbtable", target)
                .mode(spark_mode)
            )
            for k in ("user", "password", "driver", "batchsize",
                      "createTableColumnTypes"):
                if k in p:
                    w = w.option(k, p[k])
            return w

        if write_mode in ("replace", "update"):
            # mysqlwriter's REPLACE INTO / ON DUPLICATE KEY UPDATE
            # (WriterUtil.java:113-170) as a set-wise staged upsert:
            # executors write the batch to a staging table in parallel,
            # then one driver-side TRANSACTION swaps matching keys —
            # delete-then-insert, which is exactly REPLACE's contract
            # (and equals ON DUPLICATE KEY UPDATE when all columns are
            # in the update list, the reference's generated form).
            # Caveats: the stage table's types come from Spark's JDBC
            # dialect mapping (Derby maps StringType to CLOB, which is
            # not equality-comparable — pass createTableColumnTypes,
            # e.g. '"uid" VARCHAR(255)', for string keys there); the
            # table name is emitted unquoted, matching how Spark
            # creates it from the dbtable option; the deterministic
            # stage name serializes concurrent upserts into the same
            # target (last one wins, as with the reference's row
            # batches).
            keys = p.get("keys") or p.get("primaryKeys")
            if not keys:
                raise ValueError(
                    f"writeMode={write_mode} requires 'keys' (the conflict columns)"
                )
            # The reference's REPLACE INTO / ON DUPLICATE KEY UPDATE is
            # row-wise last-wins, so a batch carrying duplicate keys
            # still lands one row per key; the set-wise DELETE+INSERT
            # swap would insert ALL duplicates (PK violation, or silent
            # duplicate rows without a PK). Deduplicate on the conflict
            # keys first — a DataFrame has no row order, so "last"
            # is made deterministic: the max over the non-key columns.
            others = [c for c in df.columns if c not in keys]
            if others:
                from pyspark.sql.window import Window

                w = Window.partitionBy(*keys).orderBy(
                    *[F.col(c).desc_nulls_last() for c in others]
                )
                df = (
                    df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                df = df.dropDuplicates(keys)
            stage = f"{table}_dx_stage"
            _writer(stage, "overwrite").save()
            on = " AND ".join(
                f"{stage}.{_q(k)} = {table}.{_q(k)}" for k in keys
            )
            cols = ", ".join(_q(c) for c in df.columns)
            jdbc_execute(
                spark, url,
                [
                    f"DELETE FROM {table} WHERE EXISTS "
                    f"(SELECT 1 FROM {stage} WHERE {on})",
                    f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
                    f"DROP TABLE {stage}",
                ],
                table, p,
                transactional=True,
            )
        else:
            spark_mode = {"insert": "append", "truncate": "overwrite"}.get(
                write_mode, mode if mode in ("append", "overwrite") else "append"
            )
            _writer(table, spark_mode).save()
        if p.get("postSql"):
            post = p["postSql"] if isinstance(p["postSql"], list) else [p["postSql"]]
            jdbc_execute(spark, url, post, table, p)
    elif name in ("tsdbwriter", "opentsdbwriter"):
        from datax_spark.sources.tsdb import tsdb_write

        return tsdb_write(df, p)
    elif name == "ftpwriter":
        # FtpWriter.java:116-168: Spark writes the CSV part files to a
        # local spool, then the transport applies writeMode remotely
        # (truncate deletes prefixed files / nonConflict refuses /
        # append) and uploads each part under the fileName prefix.
        import glob as _glob
        import tempfile as _tempfile

        from datax_spark.sources.ftp import ftp_publish_write

        spool = _tempfile.mkdtemp(prefix="ftp_spool_")
        write_sink(df, "csvwriter", {**p, "path": spool, "writeMode": "overwrite"})
        parts = sorted(_glob.glob(os.path.join(spool, "part-*")))
        remotes = ftp_publish_write(parts, p)
        return {"files": len(remotes), "path": p["path"]}
    elif name == "osswriter":
        # OssWriter.java: CSV parts spooled locally, writeMode applied
        # remotely (truncate/nonConflict/append), parts uploaded as
        # <object>__<n> with multipart above the size threshold.
        import glob as _glob
        import tempfile as _tempfile

        from datax_spark.sources.oss import oss_publish_write

        spool = _tempfile.mkdtemp(prefix="oss_spool_")
        write_sink(df, "csvwriter", {**p, "path": spool, "writeMode": "overwrite"})
        parts = sorted(_glob.glob(os.path.join(spool, "part-*")))
        remotes = oss_publish_write(parts, p)
        return {"files": len(remotes), "object": p["object"]}
    elif name == "restfulapiwriter":
        return write_restful(df, p)
    elif name == "elasticsearchwriter":
        from datax_spark.sinks.es_writer import write_elasticsearch

        return write_elasticsearch(df, p)
    elif name == "ocswriter":
        from datax_spark.sinks.ocs_writer import write_ocs

        return write_ocs(df, p)
    elif name in ("hbasewriter", "hbase11xwriter", "hbase20xwriter"):
        from datax_spark.sources.hbase import hbase_write

        return hbase_write(df, p)
    elif name == "mongodbwriter":
        from datax_spark.sources.mongo import mongo_write

        return mongo_write(df, p)
    elif name == "cassandrawriter":
        from datax_spark.sources.cassandra import cassandra_write

        return cassandra_write(df, p)
    elif name == "gdbwriter":
        from datax_spark.sources.gdb import gdb_write

        return gdb_write(df, p)
    elif name == "odpswriter":
        from datax_spark.sources.odps import odps_write

        return odps_write(df, p)
    elif name == "tdenginewriter":
        from datax_spark.sources.tdengine import tdengine_write

        return tdengine_write(df, p)
    elif name == "hivewriter":
        return hive_write(df, p)
    elif name == "streamwriter":
        # console smoke sink (StreamWriter.java analog)
        df.show(int(p.get("recordNumBeforePrint", 20)), truncate=False)
    elif name == "lakewriter":
        keys = p["keys"]
        if not LakeTable.exists(path):
            schema = df.schema if p.get("op_col") is None else df.drop(p["op_col"]).schema
            LakeTable.create(
                df.sparkSession, path, schema=schema, key_cols=keys,
                num_buckets=int(p.get("numBuckets", 64)),
            )
        table = LakeTable.load(df.sparkSession, path)
        op_col = p.get("op_col")
        if op_col is None:
            # pure upsert (writeMode=replace/update analog): inject op=U
            df = df.withColumn("__op", F.lit("U"))
            op_col = "__op"
        pending = merge_into(
            table, df, op_col=op_col, delete_op=p.get("delete_op", "D"),
            strategy=p.get("mergeStrategy", "spj"),
        )
        version = pending.commit(summary=p.get("summary"))
        return {"rows_after": pending.stats.rows_after, "version": version}
    else:
        raise ValueError(f"unknown writer plugin: {name}")
    return {"path": path}


def hive_write(df: DataFrame, p: dict) -> dict:
    """hivewriter (HiveWriter.java:42-256): the reference spools the
    batch as a TEXT temp table under ``tmpDatabasePath`` and then runs

        insert {into|overwrite} table <db>.<table> [partition(spec)]
        select * from <tmpDatabase>.<tmpTable> DISTRIBUTE BY rand();

    through ``hive_cmd -e``, dropping the temp table in post(). The
    Spark-native two-phase analog stages the batch as a temp view (the
    catalog's equivalent of the temp table — no HDFS spool needed
    because the INSERT reads the staged plan directly) and runs the
    same statement through the session catalog. ``DISTRIBUTE BY
    rand()`` is kept for parity (the reference uses it to spread
    output files; disable with distributeByRand=false when the
    target's own partitioning should stand).

    writeMode insert -> INSERT INTO (append); overwrite -> INSERT
    OVERWRITE (replaces the table or just the addressed static
    partition, Hive semantics either way).
    """
    spark = df.sparkSession
    for k in ("databaseName", "tableName"):
        if not p.get(k):
            raise ValueError(f"The parameter [{k}] is not set.")
    database, table = p["databaseName"], p["tableName"]
    write_mode = "overwrite" if p.get("writeMode") == "overwrite" else "into"
    partition = p.get("partition")
    part_str = f" partition({partition}) " if partition else " "
    cols = p.get("column")
    if cols and cols != ["*"]:
        names = [c["name"] if isinstance(c, dict) else c for c in cols]
        df = df.select(*names)
    tmp = f"tmp_datax_hivewriter_{abs(hash((database, table))) % 10**8}"
    df.createOrReplaceTempView(tmp)
    try:
        tail = " DISTRIBUTE BY rand()" if p.get("distributeByRand", True) \
            else ""
        spark.sql(
            f"insert {write_mode} table {database}.{table}{part_str}"
            f"select * from {tmp}{tail}"
        )
    finally:
        spark.catalog.dropTempView(tmp)  # post() deleteTmpTable parity
    return {"table": f"{database}.{table}", "writeMode": write_mode}
