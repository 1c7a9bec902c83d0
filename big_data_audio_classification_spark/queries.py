"""Imports every operator module so their ``@query`` registrations run.

``registry.all_queries()`` imports this module exactly once; add new
operator modules here as they are built.
"""

import big_data_audio_classification_spark.operators.relational  # noqa: F401
import big_data_audio_classification_spark.operators.aggregates  # noqa: F401
import big_data_audio_classification_spark.operators.windows  # noqa: F401
import big_data_audio_classification_spark.operators.scalars  # noqa: F401
import big_data_audio_classification_spark.operators.dedup  # noqa: F401
import big_data_audio_classification_spark.operators.text  # noqa: F401
import big_data_audio_classification_spark.operators.curation  # noqa: F401
import big_data_audio_classification_spark.operators.similarity  # noqa: F401
import big_data_audio_classification_spark.operators.ml  # noqa: F401
import big_data_audio_classification_spark.operators.reference_pipeline  # noqa: F401
import big_data_audio_classification_spark.operators.audio  # noqa: F401
import big_data_audio_classification_spark.operators.multimodal  # noqa: F401
import big_data_audio_classification_spark.operators.advanced  # noqa: F401
import big_data_audio_classification_spark.operators.ml_inference  # noqa: F401
import big_data_audio_classification_spark.operators.scale_patterns  # noqa: F401
import big_data_audio_classification_spark.operators.profiling  # noqa: F401
import big_data_audio_classification_spark.operators.stats  # noqa: F401
import big_data_audio_classification_spark.operators.lm_quality  # noqa: F401
import big_data_audio_classification_spark.operators.tpch_classics  # noqa: F401
import big_data_audio_classification_spark.operators.tpch_suite  # noqa: F401
import big_data_audio_classification_spark.sources.python_datasource  # noqa: F401
import big_data_audio_classification_spark.operators.analytics  # noqa: F401
import big_data_audio_classification_spark.operators.retrieval  # noqa: F401
import big_data_audio_classification_spark.operators.graph  # noqa: F401
import big_data_audio_classification_spark.operators.baskets  # noqa: F401
import big_data_audio_classification_spark.operators.warehouse  # noqa: F401
import big_data_audio_classification_spark.operators.cnn  # noqa: F401
import big_data_audio_classification_spark.operators.linkage  # noqa: F401
import big_data_audio_classification_spark.operators.timeseries  # noqa: F401
import big_data_audio_classification_spark.operators.geo  # noqa: F401
import big_data_audio_classification_spark.operators.ml_closed_form  # noqa: F401
import big_data_audio_classification_spark.operators.sketch_cms  # noqa: F401
import big_data_audio_classification_spark.operators.experiments  # noqa: F401
import big_data_audio_classification_spark.streaming.events  # noqa: F401
