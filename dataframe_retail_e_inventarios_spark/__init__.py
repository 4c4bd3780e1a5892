"""PySpark-native retail analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference project ``diegomurillo2020/dataframe_retail_e_inventarios``
(a pandas retail demand-forecasting + inventory-optimization pipeline;
see SURVEY.md). Everything is declared as lazy DataFrame plans so
Catalyst/Tungsten pick the physical strategy; Python UDFs are used only
where built-in operators genuinely cannot express the semantics
(the per-series statistical model fits).

Layout:
    session    SparkSession builder (AQE, Arrow, tuned shuffle partitions)
    schemas    explicit StructTypes for the CSV tables
    sources/   readers (csv-with-schema, parquet, testdata tables with
               schemas resolved once per file) and writers
    operators/ relational building blocks (cleaning, resample, winsorize,
               split, joins, dedup, similarity, textops, multimodal)
    functions/ column-expression builders (metrics, inventory, arrays,
               banding)
    plans/     end-to-end query plans (flagship, report, forecast-native)
    streaming/ Structured Streaming demo over the events table
"""

__version__ = "0.1.0"
