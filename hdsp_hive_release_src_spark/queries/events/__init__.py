"""Events domain: sessions and time series over the events table."""
