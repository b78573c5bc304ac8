def __getattr__(name):
    # loaded on first use, so the pure-Python sources the producer needs
    # (envelope, shapefile, gpkg) import without pyspark
    if name in ("TABLES", "load_table"):
        from . import tables

        return getattr(tables, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
