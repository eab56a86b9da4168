from jsonschema_spark.functions.udf import validate_json_column  # noqa: F401
