"""Sources: delimited file scan, discovery/routing, schema validation."""
