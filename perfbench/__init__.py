"""Replication benchmark for mysql_to_clickhouse_spark (see README.md)."""
