"""Deterministic restaurant-domain fixtures (FIXTURES.md schemas).

Day-01 full files + day-02 deltas that exercise all three SCD2
branches — mirroring the reference's replay fixtures
(`02:350-371`, `03:454-484`, `07:263-285`).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import (
    Warehouse,
    run_all,
)

TS1 = "2024-05-01 10:00:00"
TS2 = "2024-05-02 11:30:00"


def _csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join("\\N" if v is None else str(v) for v in r) + "\n")


def _json_lines(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def write_day(root: str, day: int) -> str:
    """Write all ten entity files under <root>/2024/5/<day>/ (the
    no-zero-pad date-path contract) and return the prefix."""
    prefix = os.path.join(root, f"2024/5/{day}")
    ts = TS1 if day == 1 else TS2

    if day == 1:
        loc_rows = [
            [1, "Maharashtra", "Mumbai", 400001, "Active", TS1, None],
            [2, "Delhi", "Delhi", 110001, "Active", TS1, None],
            [3, "Rajasthan", "Jaipur", 302001, "Active", TS1, None],
        ]
    else:
        loc_rows = [
            [1, "Maharashtra", "Mumbai", 400001, "Active", TS1, None],  # unchanged → no-op
            [2, "Delhi", "Delhi", 110099, "Active", TS1, TS2],  # changed zip → new version
            [4, "Karnataka", "Bengaluru", 560001, "Active", TS2, None],  # new key → first insert
        ]
    _csv(
        f"{prefix}/location.csv",
        ["LocationID", "State", "City", "ZipCode", "ActiveFlag", "CreatedDate", "ModifiedDate"],
        loc_rows,
    )

    rest_rows = [
        [101, "Spice Hub", "Indian", 500.00, "9876543210", "9-23", 1, "Active", "Open",
         "Bandra", "12 Hill Rd", 4.5, '"[""FLAT50""]"', 19.076090, 72.877426, TS1, None],
    ]
    if day == 2:
        rest_rows = [
            [101, "Spice Hub", "Indian", 550.00, "9876543210", "9-23", 1, "Active", "Open",
             "Bandra", "12 Hill Rd", 4.5, '"[""FLAT50""]"', 19.076090, 72.877426, TS1, TS2],
            [102, "Wok Way", "Chinese", 400.00, "9876500000", "10-22", 3, "Active", "Open",
             "Pink City", "9 Bazar St", 4.1, "\\N", 26.912434, 75.787270, TS2, None],
        ]
    _csv(
        f"{prefix}/restaurant.csv",
        ["RestaurantID", "Name", "CuisineType", "Pricing_for_2", "Restaurant_Phone",
         "OperatingHours", "LocationID", "ActiveFlag", "OpenStatus", "Locality",
         "Restaurant_Address", "Ratings", "Coupons", "Latitude", "Longitude",
         "CreatedDate", "ModifiedDate"],
        rest_rows,
    )

    menu_rows = [
        [1001, 101, "Paneer Tikka", "Smoky paneer", 250.00, "Appetizers", "True", "Veg", 4.2, TS1, None],
        [1002, 101, "Dal Makhani", " Creamy dal ", 220.00, "Main Course", "FALSE", "Veg", 4.4, TS1, None],
    ]
    if day == 2:
        menu_rows = [
            [1001, 101, "Paneer Tikka", "Smoky paneer", 275.00, "Appetizers", "True", "Veg", 4.2, TS1, TS2],
            [1003, 102, "Hakka Noodles", "Street style", 180.00, "Main Course", "true", "Veg", None, TS2, None],
        ]
    _csv(
        f"{prefix}/menu_items.csv",
        ["MenuID", "RestaurantID", "ItemName", "Description", "Price", "Category",
         "Availability", "ItemType", "Rating", "CreatedDate", "ModifiedDate"],
        menu_rows,
    )

    cust_rows = [
        ["C001", "Asha Rao", "asha@example.com", "9000000001", "Google", "Female",
         "1990-04-12", None, 4.8, '"{""veg"": true}"', "2024-05-01T10:00:00", None],
    ]
    if day == 2:
        cust_rows = [
            ["C001", "Asha Rao", "asha.rao@example.com", "9000000001", "Google", "Female",
             "1990-04-12", None, 4.8, '"{""veg"": true}"', "2024-05-01T10:00:00",
             "2024-05-02T11:30:00"],
            ["C002", "Vik Shah", "vik@example.com", "9000000002", "Social", "Male",
             None, "2015-02-14", 4.1, "\\N", "2024-05-02T11:30:00", None],
        ]
    _csv(
        f"{prefix}/customer.csv",
        ["CustomerID", "Name", "Email", "Mobile", "LoginByUsing", "Gender", "DOB",
         "Anniversary", "Rating", "Preferences", "CreatedDate", "ModifiedDate"],
        cust_rows,
    )

    addr_rows = [
        [11, 1, "A-42", None, "Sea View", "Near Park", "Bandra", "Mumbai", "Maharashtra",
         400001, '"19.07,72.87"', "Y", "Home", "2024-05-01T10:00:00", None],
    ]
    if day == 2:
        addr_rows = [
            [11, 1, "A-42", "3", "Sea View", "Near Park", "Bandra", "Mumbai", "Maharashtra",
             400001, '"19.07,72.87"', "Y", "Home", "2024-05-01T10:00:00", "2024-05-02T11:30:00"],
        ]
    _csv(
        f"{prefix}/customer_address.csv",
        ["AddressID", "CustomerID", "FlatNo", "Floor", "Building", "Landmark", "Locality",
         "City", "State", "PinCode", "Coordinates", "PrimaryFlag", "AddressType",
         "CreatedDate", "ModifiedDate"],
        addr_rows,
    )

    agent_rows = [
        {"DeliveryAgentID": 501, "Full_Name": "Ravi K", "email": "ravi@example.com",
         "Mobile_no": "9111111111", "VehicleType": "Bike", "LocationID": 1,
         "Status": "Active", "Gender": "Male", "Rating": 4.6,
         "CreatedDate": TS1, "ModifiedDate": None},
        # duplicate record on purpose → exercises C6 DISTINCT
        {"DeliveryAgentID": 501, "Full_Name": "Ravi K", "email": "ravi@example.com",
         "Mobile_no": "9111111111", "VehicleType": "Bike", "LocationID": 1,
         "Status": "Active", "Gender": "Male", "Rating": 4.6,
         "CreatedDate": TS1, "ModifiedDate": None},
    ]
    if day == 2:
        agent_rows = [
            {"DeliveryAgentID": 501, "Full_Name": "Ravi K", "email": "ravi@example.com",
             "Mobile_no": "9111111111", "VehicleType": "Scooter", "LocationID": 1,
             "Status": "Active", "Gender": "Male", "Rating": 4.7,
             "CreatedDate": TS1, "ModifiedDate": TS2},
        ]
    _json_lines(f"{prefix}/delivery_agent.json", agent_rows)

    deliv_rows = [
        [9001, 7001, 501, "Delivered", "30 mins", "28 mins", 11, TS1, TS1, None],
    ]
    if day == 2:
        deliv_rows = [
            [9002, 7002, 501, "Cancelled", "40 mins", None, 11, TS2, TS2, None],
        ]
    _csv(
        f"{prefix}/delivery.csv",
        ["DeliveryID", "OrderID", "DeliveryAgentID", "DeliveryStatus", "EstimatedTime",
         "DeliveredTime", "AddressID", "DeliveryDate", "CreatedDate", "ModifiedDate"],
        deliv_rows,
    )

    order_rows = [
        [7001, 1, 101, TS1, 470.00, 50.00, 30.00, 450.00, "Completed", "UPI", "True", "FLAT50", TS1, None],
    ]
    if day == 2:
        order_rows = [
            [7002, 2, 101, TS2, 220.00, 0.00, 20.00, 240.00, "Cancelled", "Card", "False", None, TS2, None],
        ]
    _csv(
        f"{prefix}/orders.csv",
        ["OrderID", "CustomerID", "RestaurantID", "OrderDate", "TotalAmount",
         "DiscountAmount", "DeliveryCharges", "FinalAmount", "Status", "PaymentMethod",
         "IsFirstOrder", "CouponCode", "CreatedDate", "ModifiedDate"],
        order_rows,
    )

    oi_rows = [
        [80001, 7001, 1001, 2, 250.00, 500.00, None, TS1, None],
    ]
    if day == 2:
        oi_rows = [
            [80002, 7002, 1002, 1, 220.00, 220.00, 4.0, TS2, None],
        ]
    _csv(
        f"{prefix}/order_items.csv",
        ["OrderItemID", "OrderID", "MenuItemID", "Quantity", "Price", "Subtotal",
         "Ratings", "CreatedDate", "ModifiedDate"],
        oi_rows,
    )

    login_rows = [
        [1, 1, "App", "iOS", "iPhone 13", None, TS1],
        [2, 1, "Web", None, None, "Chrome", TS1],
    ]
    if day == 2:
        login_rows = [
            [3, 2, "App", "Android", "Pixel 8", None, TS2],
        ]
    _csv(
        f"{prefix}/login_audit.csv",
        ["LoginID", "CustomerID", "LoginType", "DeviceInterface", "MobileDeviceName",
         "WebInterface", "LastLogin"],
        login_rows,
    )
    return prefix


def load_two_days(spark, days: list[str], root: str) -> Warehouse:
    """A warehouse under ``root`` after ``run_all`` of the two staged
    days in turn, each batch stamped 21:30 on its own day."""
    wh = Warehouse(str(root))
    for day, ts in zip(days, ("2024-05-01 21:30:00", "2024-05-02 21:30:00")):
        run_all(spark, wh, day, batch_ts=F.lit(ts).cast("timestamp"))
    return wh
