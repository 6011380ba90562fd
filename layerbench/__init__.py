"""Layered benchmark of the Native file source and the clickhouse_scan client."""
