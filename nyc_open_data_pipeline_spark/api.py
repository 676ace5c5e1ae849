"""HTTP serving layer (reference src/api/main.py + routes.py, K7).

Thin FastAPI wrapper over the engine's three document queries, with the
reference's middleware: CORS and gzip for responses >= 1000 bytes. FastAPI
is not installed in every environment, so construction is gated behind
``create_app`` — importing this module never fails.

For production latency the documents should be served from the static
export (serving.export_static) — the reference reaches the same conclusion
with its static JSON export (SURVEY §3.3).
"""

from __future__ import annotations

from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
from nyc_open_data_pipeline_spark.serving import (
    food_gaps_document,
    poverty_by_zip_document,
    rent_by_zip_document,
)


def create_app(spark, storage_root: str):
    try:
        from fastapi import FastAPI, Response
        from fastapi.middleware.cors import CORSMiddleware
        from fastapi.middleware.gzip import GZipMiddleware
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "fastapi is not installed; serve the same three documents "
            "statically via serving.export_static(spark, "
            "ParquetStorage(storage_root), out_dir) — it writes the "
            "byte-compatible /data docs this app (create_app(spark, "
            "storage_root)) would serve live"
        ) from e

    storage = ParquetStorage(storage_root)
    app = FastAPI(title="nyc-open-data-pipeline-spark")
    app.add_middleware(
        CORSMiddleware, allow_origins=["*"], allow_methods=["GET"], allow_headers=["*"]
    )
    app.add_middleware(GZipMiddleware, minimum_size=1000)

    @app.get("/")
    def root() -> dict:
        # service-info document at the root (reference src/api/main.py:24-26
        # returns {"message": "Poverty NYC API"}) — the first URL a user or
        # health check hits
        return {"message": app.title}

    @app.get("/api/food-gaps")
    def food_gaps() -> "Response":
        return Response(food_gaps_document(spark, storage), media_type="application/json")

    @app.get("/api/poverty-by-zip")
    def poverty() -> "Response":
        return Response(
            poverty_by_zip_document(spark, storage), media_type="application/json"
        )

    @app.get("/api/rent-by-zip")
    def rent() -> "Response":
        return Response(rent_by_zip_document(spark, storage), media_type="application/json")

    return app
