"""Pass-through Python DataSource for timing the Python->JVM hand-off
alone: each partition replays a saved Arrow IPC file, so Spark pulls
the same number and size of batches the Native source yields, with no
listing, decoding or coalescing in front of it."""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class PassThroughDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "layerbench_passthrough"

    def reader(self, schema):
        return PassThroughReader(json.loads(self.options["files"]))


class PassThroughReader(DataSourceReader):
    def __init__(self, files: list[str]) -> None:
        self.files = files

    def partitions(self):
        return [InputPartition(f) for f in self.files]

    def read(self, partition):
        import pyarrow as pa

        with pa.memory_map(partition.value) as src:
            reader = pa.ipc.open_file(src)
            for i in range(reader.num_record_batches):
                yield reader.get_batch(i)
