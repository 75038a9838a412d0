"""End-to-end drive: crash-resume on real events data + streaming restart."""
import tempfile, os, datetime
from pyspark.sql import functions as F
from go_log_forwarder_spark.session import get_spark
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain
from go_log_forwarder_spark.functions.filters import GrepFilter
from go_log_forwarder_spark.operators.routing import SinkSpec
from go_log_forwarder_spark.plans.lineage import ResumablePipeline

spark = get_spark(master="local[8]")
tmp = tempfile.mkdtemp(prefix="glfs_resume_")
ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
inp = os.path.join(tmp, "in")
ev.select(F.col("props").alias("raw"),
          F.concat(F.lit("evt-"), F.col("event_type")).alias("tag"),
          F.col("ts").alias("ingest_time"), "event_id") \
  .repartition(6).write.parquet(inp)

SINKS = [SinkSpec("all", "*"), SinkSpec("err", "evt-err*")]
def pf(df):
    # the parse stage and the filter chain's survival predicate over it
    return ParserChain([JsonParser()]).apply(df), GrepFilter(op="and", include=('"k":[0-9]+}',)).keep_pred()

rp = ResumablePipeline(os.path.join(tmp, "wd"), SINKS)
try:
    rp.run(spark, inp, pf, run_id="demo", fail_after_units=2)
except RuntimeError as e:
    print("CRASH (injected):", e)
print("lineage committed after crash:", len(rp.lineage.committed("demo")))
r = rp.run(spark, inp, pf, run_id="demo")
print("resume:", r)
all_n = rp.read_sink(spark, "all").count()
err_df = rp.read_sink(spark, "err")
print("sink all rows:", all_n, "| sink err rows:", err_df.count(),
      "| err tags:", [t[0] for t in err_df.select("tag").distinct().collect()])
print("metrics:"); rp.lineage.metrics_df(spark, "demo").select("rows_in","rows_parsed","rows_dropped","rows_routed").groupBy().sum().show()
# idempotency probe: run again
print("rerun:", rp.run(spark, inp, pf, run_id="demo"), "all rows still:", rp.read_sink(spark,"all").count())
