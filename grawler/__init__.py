"""grawler — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the Go crawler fou3fou3/Grawler (read-only reference at /root/reference),
re-expressed Spark-first: the crawl loop is a BSP wave loop of pure batch
DataFrame jobs; the frontier, URL-seen set, robots cache and image store
are tables; dedup/politeness/robots/ranking are joins, windows and
vectorized pandas UDFs.

This is NOT a port: the reference's MPMC queue + mutexed maps + 20 goroutines
(src/crawler.go:28-103) become partitioned DataFrames + Spark task scheduling.
"""

__version__ = "0.1.0"
