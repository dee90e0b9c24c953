"""pyspark-crawl-frontier: a PySpark-native crawl scheduler.

A from-scratch re-creation of the capabilities of the Go crawler
``dreamerjackson/crawler`` (reference at /root/reference, read-only) as
deterministic batch micro-rounds over parquet/Iceberg tables:

- frontier table + weighted priority-queue wave selection
  (reference: engine/schedule.go:248-290 two-class FIFO queues)
- exact URL-seen set (one left_anti join against the seen table)
  (reference: engine/schedule.go:412-429 visited map, md5 key
  spider/request.go:113-117)
- multi-tier token-bucket politeness budgets
  (reference: limiter/limiter.go:11-45)
- rules-as-data vectorized parse producing interleaved text+media span
  documents (reference parse funcs: parse/doubanbook/book.go,
  parse/doubangroup/group.go)
- snapshot-per-round commit protocol with resume
  (replaces the reference's etcd control plane, master/master.go)

Nothing here is a port: the goroutine/channel execution model is replaced
by DataFrame micro-rounds; see SURVEY.md for the capability mapping.
"""

__version__ = "0.1.0"
