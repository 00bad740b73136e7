"""responsive_pub_spark — a PySpark-native stream-processing engine.

A brand-new engine with the query/data-processing capabilities of
responsivedev/responsive-pub (Responsive's Kafka Streams platform), rebuilt
idiomatically on Spark DataFrames / Structured Streaming:

- KStream/KTable-style fluent dataflow API compiling to Catalyst plans
  (``api.Pipeline`` ~ ``ResponsiveKafkaStreams``,
  reference: kafka-client/.../api/ResponsiveKafkaStreams.java:96)
- keyed aggregations, tumbling/hopping/session windows with grace
  (reference: integration/ResponsiveWindowStoreIntegrationTest.java,
  ResponsiveSessionStoreIntegrationTest.java)
- stream-table / stream-stream windowed / foreign-key / broadcast joins
  (reference: STJoinExample.java, ResponsiveForeignKeyJoinIntegrationTest.java)
- row-level TTL (reference: api/stores/TtlProvider.java)
- FACT-store dedup & LLM-data-pipeline operators (dedup, similarity search,
  text analysis, multimodal plumbing) designed for 100 TB scale
- processor API analog with keyed state + timers on
  ``transformWithStateInPandas`` / ``applyInPandas``

Everything here derives from public knowledge only: the Apache Spark API and
the public responsive-pub repository's *behavior* (cited file:line in
docstrings), not its implementation.
"""

__version__ = "0.1.0"

from responsive_pub_spark.compat import reuse_zip_directories

reuse_zip_directories()

from responsive_pub_spark.api import Pipeline, KStream, KTable  # noqa: F401
from responsive_pub_spark.windows import TimeWindows, SessionWindows  # noqa: F401
